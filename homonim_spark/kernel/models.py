"""Kernel models: sliding-window least-squares surface-reflectance fits.

Numerical semantics replicate the reference's ``KernelModel``
(``/root/reference/homonim/kernel_model.py``) including order of operations
(mask-zeroing before kernel sums, in-place normalisation for
gain-blk-offset, R² thresholding + offset inpainting + gain re-solve).
All functions are plain numpy over 2-D float32 arrays with NaN nodata and
run inside Arrow-batched pandas UDFs — the distributed layer
(halo exchange, join, regroup) lives in ``homonim_spark.operators.fuse``,
whose group stage hands each assembled chunk canvas to
:func:`ref_space_chunk` or :func:`src_space_chunk`.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Tuple

import numpy as np

from homonim_spark.enums import ConfigError, Model
from homonim_spark.kernel import ops

NDArray = np.ndarray


@dataclass(frozen=True)
class KernelModelParams:
    """Run configuration (reference ``KernelModel.create_config``,
    ``kernel_model.py:98-136`` + kernel validation ``utils.py:104-133``)."""

    model: Model = Model.gain_blk_offset
    kernel_shape: Tuple[int, int] = (5, 5)
    find_r2: bool = False
    r2_inpaint_thresh: Optional[float] = 0.25
    mask_partial: bool = False
    #: sigma-clipped masking (north_star; no reference analogue): pixels
    #: whose residual against the fitted model exceeds this many block-level
    #: standard deviations are masked and the model refit. None = off.
    sigma_clip: Optional[float] = None
    sigma_clip_iters: int = 2
    #: proc→src parameter upsampling for the ref-space apply path.  The
    #: reference defaults to ``Resampling.cubic_spline``
    #: (``kernel_model.py:101,138-140``); the engine's smooth-interpolation
    #: analogue is a NaN-safe bilinear (DOCUMENTED DEVIATION — within the
    #: reference's own abs-2 corrected-value tolerance).  ``"nearest"`` is
    #: the opt-in exact/fast path; ``"cubic"`` (Catmull-Rom) is the closest
    #: analogue of the reference default (needs kernels ≥ 3 for chunked ==
    #: whole-image: 2 px of halo context); ``"lanczos"`` (Lanczos-3) is the
    #: sharpest rasterio option the reference exposes (needs kernels ≥ 5:
    #: 3 px of halo context).
    param_interp: str = "bilinear"

    def __post_init__(self):
        if self.param_interp not in ("bilinear", "nearest", "cubic",
                                     "lanczos"):
            raise ConfigError(
                "`param_interp` must be 'bilinear', 'nearest', 'cubic' "
                "or 'lanczos'")
        kh, kw = self.kernel_shape
        if kh % 2 != 1 or kw % 2 != 1:
            raise ConfigError("`kernel_shape` must be odd in both dimensions.")
        # chunk-invariance guard: the halo is ceil(k/2) px, but cubic needs
        # 2 px and lanczos-3 needs 3 px of context — with smaller kernels the
        # interpolator silently reads zero-padding at chunk edges and
        # chunked != whole-image (documented above; now enforced)
        _interp_min_k = {"cubic": 3, "lanczos": 5}
        min_k = _interp_min_k.get(self.param_interp)
        if min_k is not None and min(kh, kw) < min_k:
            raise ConfigError(
                f"`param_interp='{self.param_interp}'` requires "
                f"`kernel_shape` >= {min_k} in both dimensions (needs "
                f"{min_k // 2 + 1} px of halo context; ceil(k/2) halo gives "
                "less for smaller kernels, breaking chunk-invariance).")
        if kh < 1 or kw < 1:
            raise ConfigError("`kernel_shape` must be a minimum of one in both dimensions.")
        if Model(self.model) == Model.gain_offset and kh * kw < 2:
            raise ConfigError(
                "`kernel_shape` area should contain at least 2 elements for the gain-offset model."
            )


def overlap_for_kernel(kernel_shape: Tuple[int, int]) -> Tuple[int, int]:
    """Halo (block overlap) for a kernel: ceil(k/2) per dim
    (reference ``utils.py:136-153``)."""
    return (
        int(np.ceil(kernel_shape[0] / 2)),
        int(np.ceil(kernel_shape[1] / 2)),
    )


def _combined_mask(src: NDArray, ref: NDArray) -> NDArray:
    """Valid where both source and reference are valid
    (reference ``kernel_model.py:245``)."""
    return ~np.isnan(src) & ~np.isnan(ref)


def _r2_array(
    ref_array: NDArray,
    src_array: NDArray,
    param_array: NDArray,
    mask: NDArray,
    kernel_shape: Tuple[int, int],
    mask_sum: Optional[NDArray] = None,
    ref_sum: Optional[NDArray] = None,
    src_sum: Optional[NDArray] = None,
    ref2_sum: Optional[NDArray] = None,
    src2_sum: Optional[NDArray] = None,
    src_ref_sum: Optional[NDArray] = None,
) -> NDArray:
    """R² (coefficient of determination) per kernel location.

    Expansion of R² = 1 − RSS/TSS into kernel sums, term-for-term the
    reference's ``KernelModel._r2_array``
    (``/root/reference/homonim/kernel_model.py:142-214``); reuses any
    precomputed sums (the reference's kwargs-CSE pattern).
    ``src_array``/``ref_array`` must already be zeroed where masked.
    """
    if mask_sum is None:
        mask_sum = ops.box_sum(mask.astype(np.float32), kernel_shape)
    if ref_sum is None:
        ref_sum = ops.box_sum(ref_array, kernel_shape)
    if ref2_sum is None:
        ref2_sum = ops.sqr_box_sum(ref_array, kernel_shape)
    if src2_sum is None:
        src2_sum = ops.sqr_box_sum(src_array, kernel_shape)
    if src_ref_sum is None:
        src_ref_sum = ops.box_sum(src_array * ref_array, kernel_shape)

    ss_tot = (mask_sum * ref2_sum) - (ref_sum ** 2)

    if param_array.shape[0] > 1:
        # gain-offset RSS expansion (reference kernel_model.py:189-195)
        if src_sum is None:
            src_sum = ops.box_sum(src_array, kernel_shape)
        g, c = param_array[0], param_array[1]
        ss_res = (
            (g ** 2) * src2_sum
            + 2 * (g * c) * src_sum
            - 2 * g * src_ref_sum
            - 2 * c * ref_sum
            + ref2_sum
            + mask_sum * (c ** 2)
        )
    else:
        # gain / gain-blk-offset RSS expansion (reference kernel_model.py:201)
        g = param_array[0]
        ss_res = (g ** 2) * src2_sum - 2 * g * src_ref_sum + ref2_sum

    ss_res = ss_res * mask_sum

    dest = np.full(src_array.shape, np.nan, dtype=np.float32)
    np.divide(ss_res, ss_tot, out=dest, where=mask)
    np.subtract(1, dest, out=dest, where=mask)
    return dest


def fit_block_norm(src: NDArray, ref: NDArray) -> np.ndarray:
    """Block 'normalisation' model [gain, offset]: match std and 1st
    percentile of src to ref — the reference's DOS-style block model
    (``/root/reference/homonim/kernel_model.py:216-229``).

    NOTE on block scope: the reference computes this over a *processing
    block* (in-block incl. overlap); the engine's block is the assembled
    tile + halo — deterministic for a fixed tile grid (SURVEY.md §7 risk
    register: block-scoped statistics).
    """
    norm = np.zeros(2)
    mask = _combined_mask(src, ref)
    if not mask.any():
        return norm
    sv = src[mask]
    rv = ref[mask]
    norm[0] = np.std(rv) / np.std(sv)
    norm[1] = np.percentile(rv, 1) - np.percentile(sv, 1) * norm[0]
    return norm


def fit_gain(
    src: NDArray, ref: NDArray, kernel_shape: Tuple[int, int], find_r2: bool = False
) -> NDArray:
    """Sliding-kernel gain fit (LS through origin): gain = Σref/Σsrc
    (reference ``kernel_model.py:231-274``). Returns (2|3, H, W) params:
    band0 gain, band1 offset (0 on valid), band2 R² when ``find_r2``.

    Mutates ``src``/``ref`` in place (masked→0) in the reference's order.
    """
    mask = _combined_mask(src, ref)
    ref[~mask] = 0
    src[~mask] = 0

    src_sum = ops.box_sum(src, kernel_shape)
    ref_sum = ops.box_sum(ref, kernel_shape)

    n_bands = 3 if find_r2 else 2
    param = np.full((n_bands,) + src.shape, np.nan, dtype=np.float32)
    param[1, mask] = 0  # offsets are zero for the gain model
    np.divide(ref_sum, src_sum, out=param[0], where=mask)

    if find_r2:
        param[2] = _r2_array(
            ref, src, param[:1], mask=mask, kernel_shape=kernel_shape,
            ref_sum=ref_sum, src_sum=src_sum,
        )
    return param


def fit_gain_blk_offset(
    src: NDArray, ref: NDArray, kernel_shape: Tuple[int, int], find_r2: bool = False
) -> NDArray:
    """Sliding gains + block offset (reference ``kernel_model.py:276-303``):
    normalise src by the block model, fit gains, fold the normalisation back
    (offset = gain·c_norm; gain *= g_norm)."""
    norm = fit_block_norm(src, ref)
    src_norm = (src * np.float32(norm[0])) + np.float32(norm[1])  # NaN propagates (nodata stays nodata)
    param = fit_gain(src_norm, ref, kernel_shape, find_r2=find_r2)
    param[1] = param[0] * np.float32(norm[1])
    param[0] *= np.float32(norm[0])
    return param


def fit_gain_offset(
    src: NDArray,
    ref: NDArray,
    kernel_shape: Tuple[int, int],
    find_r2: bool = False,
    r2_inpaint_thresh: Optional[float] = 0.25,
) -> NDArray:
    """Full per-kernel OLS (reference ``kernel_model.py:305-373``):
    m = (N·Σsr − Σs·Σr)/(N·Σs² − (Σs)²), c = (Σr − m·Σs)/N, with R²
    thresholding + offset inpainting + gain re-solve when
    ``r2_inpaint_thresh`` is set."""
    mask = _combined_mask(src, ref)
    ref[~mask] = 0
    src[~mask] = 0

    need_r2 = find_r2 or (r2_inpaint_thresh is not None)

    src_sum = ops.box_sum(src, kernel_shape)
    ref_sum = ops.box_sum(ref, kernel_shape)
    src_ref_sum = ops.box_sum(src * ref, kernel_shape)
    mask_sum = ops.box_sum(mask.astype(np.float32), kernel_shape)
    m_num = (mask_sum * src_ref_sum) - (src_sum * ref_sum)
    src2_sum = ops.sqr_box_sum(src, kernel_shape)
    m_den = (mask_sum * src2_sum) - (src_sum ** 2)

    n_bands = 3 if need_r2 else 2
    param = np.full((n_bands,) + src.shape, np.nan, dtype=np.float32)
    np.divide(m_num, m_den, out=param[0], where=mask)
    np.divide(ref_sum - (param[0] * src_sum), mask_sum, out=param[1], where=mask)

    if need_r2:
        param[2] = _r2_array(
            ref, src, param[:2], mask=mask, kernel_shape=kernel_shape,
            mask_sum=mask_sum, ref_sum=ref_sum, src_sum=src_sum,
            src2_sum=src2_sum, src_ref_sum=src_ref_sum,
        )

    if r2_inpaint_thresh is not None:
        # inpaint low-R²/negative-gain offsets, then re-solve gains there
        # (reference kernel_model.py:361-371)
        r2_mask = (param[2] > r2_inpaint_thresh) & (param[0] > 0) & mask
        param[1] = ops.fill_nodata(param[1], r2_mask)
        param[1][~mask] = np.nan  # re-mask: fill spreads into nodata areas
        r2_mask = ~r2_mask & mask
        np.divide(ref_sum - mask_sum * param[1], src_sum, out=param[0], where=r2_mask)

    return param


def fit_model(
    src: NDArray, ref: NDArray, params: KernelModelParams
) -> NDArray:
    """Dispatch like the reference's ``KernelModel.fit``
    (``kernel_model.py:411-440``). ``src``/``ref`` are copied (the
    reference mutates callers' arrays; the engine keeps UDF inputs immutable)."""
    if src.shape != ref.shape:
        raise ValueError("'ref' and 'src' must have the same shape")
    model = Model(params.model)

    def fit_once(s: NDArray, r: NDArray) -> NDArray:
        s = s.astype(np.float32, copy=True)
        r = r.astype(np.float32, copy=True)
        # masked divides (np.divide(..., where=mask)) touch invalid lanes by
        # design, exactly like the reference — suppress spurious warnings
        with np.errstate(divide="ignore", invalid="ignore"):
            if model == Model.gain:
                return fit_gain(s, r, params.kernel_shape, params.find_r2)
            if model == Model.gain_blk_offset:
                return fit_gain_blk_offset(s, r, params.kernel_shape, params.find_r2)
            return fit_gain_offset(
                s, r, params.kernel_shape, params.find_r2, params.r2_inpaint_thresh
            )

    param = fit_once(src, ref)
    if params.sigma_clip is not None:
        # sigma-clipped masking (north_star): iteratively reject pixels whose
        # residual against the current local model exceeds k·σ (σ over the
        # block's valid residuals), refit without them. Rejected pixels stay
        # masked in the parameter planes.
        src_c = src.astype(np.float32, copy=True)
        ref_c = ref.astype(np.float32, copy=True)
        for _ in range(max(1, params.sigma_clip_iters)):
            with np.errstate(invalid="ignore"):
                resid = ref_c - (param[0] * src_c + param[1])
            valid = ~np.isnan(resid)
            if not valid.any():
                break
            sigma = float(np.std(resid[valid]))
            if sigma <= 0:
                break
            clip = valid & (np.abs(resid) > params.sigma_clip * sigma)
            if not clip.any():
                break
            src_c[clip] = np.nan
            ref_c[clip] = np.nan
            param = fit_once(src_c, ref_c)
    return param


def apply_model(src: NDArray, param: NDArray) -> NDArray:
    """corrected = gain·src + offset (reference ``kernel_model.py:442-463``).
    NaN in either operand propagates → output mask = src ∧ param mask."""
    if param.shape[1:] != src.shape:
        raise ValueError("'param' and 'src' must have the same shape")
    with np.errstate(invalid="ignore"):
        return (param[0] * src + param[1]).astype(np.float32)


def full_coverage_mask(
    src_mask: NDArray,
    param_mask: NDArray,
    factor: Tuple[int, int],
    kernel_shape: Tuple[int, int],
) -> NDArray:
    """Strict full-coverage output mask (reference ``kernel_model.py:375-409``):
    block-mean the fine-grid src mask onto the proc grid, keep only fully
    covered pixels (mean ≥ 1), AND with the param mask, erode by a rect SE of
    ``kernel_shape + 2``. ``factor`` = src-pixels per proc-pixel per dim."""
    cov = ops.block_mean(src_mask.astype(np.float32), factor)
    mask = (cov >= 1).astype(np.uint8)
    mask &= param_mask.astype(np.uint8)
    se = (kernel_shape[0] + 2, kernel_shape[1] + 2)
    return ops.erode_rect(mask, se).astype(bool)


def fit_and_apply_ref_space(
    src: NDArray,
    ref: NDArray,
    params: KernelModelParams,
    factor: Tuple[int, int],
) -> Tuple[NDArray, NDArray]:
    """RefSpaceModel fit+apply for one assembled block
    (reference ``kernel_model.py:466-503``): downsample src to the ref grid
    (average), fit there, upsample params to the src grid, apply to the
    original src. ``factor`` = src pixels per ref pixel per dim.

    Returns (param_array_on_proc_grid, corrected_src_on_src_grid).
    """
    src_proc = ops.downsample_average(src, factor)
    param = fit_model(src_proc, ref, params)

    up = ops.param_upsampler(params.param_interp)
    param_us = np.stack([up(param[0], factor), up(param[1], factor)])
    if params.mask_partial:
        out_mask = full_coverage_mask(
            ~np.isnan(src), ~np.isnan(param[0]), factor, params.kernel_shape
        )
        out_mask_us = ops.upsample_nearest(out_mask.astype(np.float32), factor) >= 0.5
        param_us[:, ~out_mask_us] = np.nan
    else:
        param_us[:, np.isnan(src)] = np.nan

    corr = apply_model(src, param_us)
    return param, corr


def _interior(arr: NDArray, oh: int, ow: int, scale: int) -> NDArray:
    """Crop a halo ring of ``oh``×``ow`` coarse-grid pixels (``scale`` grid
    pixels each) off the last two axes of a chunk canvas."""
    h, w = arr.shape[-2:]
    return arr[..., oh * scale : h - oh * scale, ow * scale : w - ow * scale]


def ref_space_chunk(
    src: NDArray,
    ref: NDArray,
    params: KernelModelParams,
    factor: int,
    src_finer: bool = True,
) -> Optional[Tuple[NDArray, NDArray]]:
    """RefSpaceModel fit+apply for one chunk canvas (reference
    ``kernel_model.py:466-503``).

    ``src``/``ref`` are the assembled canvases: the chunk interior plus a
    halo ring of ``overlap_for_kernel(params.kernel_shape)`` coarse-grid
    pixels on every side, NaN where no tile lies.  ``factor`` = fine pixels
    per coarse pixel per dim; ``src_finer`` says which role is the fine one.
    The model is fit on the whole ref-grid canvas and the params are cropped
    to the interior (the chunk's out-block, ``raster_pair.py:389-427``), so
    a chunk equals the same window of the whole image.

    Returns ``(params on the ref grid, corrected src)`` for the interior, or
    None when src and ref share no valid pixel.
    """
    oh, ow = overlap_for_kernel(params.kernel_shape)
    f = (factor, factor)
    s_sc, r_sc = (factor, 1) if src_finer else (1, factor)
    # src finer → block-mean downsample src (the recommended combo); src
    # coarser → bilinear-upsample src onto the finer ref grid (the
    # reference's warned-but-allowed combination)
    src_proc = ops.downsample_average(src, f) if src_finer else ops.upsample_bilinear(src, f)
    if not _combined_mask(src_proc, ref).any():
        return None
    param = fit_model(src_proc, ref, params)
    pc = _interior(param, oh, ow, r_sc)
    src_int = _interior(src, oh, ow, s_sc)
    if src_finer:
        # params ref(coarse) → src(fine): the reference's smooth param
        # upsampling (kernel_model.py:101).  Interpolation reads proc px
        # beyond the interior (1 for bilinear; KernelModelParams enforces
        # enough halo for cubic/lanczos), so upsample the FULL halo canvas
        # and crop in fine coordinates — keeps chunked == whole-image
        up = ops.param_upsampler(params.param_interp)
        param_us = np.stack([_interior(up(p, f), oh, ow, factor) for p in param[:2]])
    else:
        # params ref(fine) → src(coarse): block-mean downsample (the
        # reference's proc→src 'downsampling=average' default)
        param_us = np.stack([ops.downsample_average(p, f) for p in pc[:2]])
    if params.mask_partial:
        # strict coverage (kernel_model.py:375-409) on the ref grid.  Halo
        # radius == erosion radius (ceil(k/2) == k//2+1 for odd k), so the
        # interior crop is exact
        src_valid = (~np.isnan(src)).astype(np.float32)
        if src_finer:
            full_cov = full_coverage_mask(src_valid, ~np.isnan(param[0]), f,
                                          params.kernel_shape)
        else:
            full_cov = full_coverage_mask(ops.upsample_nearest(src_valid, f),
                                          ~np.isnan(param[0]), (1, 1), params.kernel_shape)
        fc = _interior(full_cov, oh, ow, r_sc).astype(np.float32)
        cov_us = ops.upsample_nearest(fc, f) >= 0.5 if src_finer else ops.block_mean(fc, f) >= 1
        param_us[:, ~cov_us] = np.nan
    else:
        param_us[:, np.isnan(src_int)] = np.nan
    return pc, apply_model(src_int, param_us)


def src_space_chunk(
    src: NDArray,
    ref: NDArray,
    params: KernelModelParams,
    factor: int,
    src_finer: bool = True,
) -> Optional[Tuple[NDArray, NDArray]]:
    """SrcSpaceModel fit+apply for one chunk canvas (reference
    ``kernel_model.py:506-535``): resample ref to the src grid, fit and
    apply there.  Canvases and arguments as :func:`ref_space_chunk`.

    Returns ``(params on the src grid, corrected src)`` for the interior,
    or None when src and ref share no valid pixel.
    """
    oh, ow = overlap_for_kernel(params.kernel_shape)
    f = (factor, factor)
    s_sc = factor if src_finer else 1
    # src finer → bilinear-upsample ref; src coarser (the auto resolution
    # when the source is the lower-res image, raster_pair.py:193-224) →
    # block-mean downsample ref
    ref_rs = ops.upsample_bilinear(ref, f) if src_finer else ops.downsample_average(ref, f)
    if not _combined_mask(src, ref_rs).any():
        return None
    param = fit_model(src, ref_rs, params)
    pc = _interior(param, oh, ow, s_sc)
    src_int = _interior(src, oh, ow, s_sc)
    param_us = pc[:2].copy()
    if params.mask_partial:
        # coverage = ref mask resampled to the src grid
        # (kernel_model.py:526-533)
        ref_valid = (~np.isnan(ref)).astype(np.float32)
        if src_finer:
            full_cov = full_coverage_mask(ops.upsample_nearest(ref_valid, f),
                                          ~np.isnan(param[0]), (1, 1), params.kernel_shape)
        else:
            full_cov = full_coverage_mask(ref_valid, ~np.isnan(param[0]), f,
                                          params.kernel_shape)
        param_us[:, ~_interior(full_cov, oh, ow, s_sc)] = np.nan
    else:
        param_us[:, np.isnan(src_int)] = np.nan
    return pc, apply_model(src_int, param_us)

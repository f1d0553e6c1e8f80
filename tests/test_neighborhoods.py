"""Neighborhood kernels vs scalar per-neuron oracles (reference strategy:
tests.py:188-246 compares against MiniSom's per-center scalar kernels)."""

import numpy as np
import pytest

from xpysom_dask_spark.functions.neighborhoods import (make_neighborhood,
                                                       neighborhood_names)


def grids(x, y, hexagonal=False):
    xx, yy = np.meshgrid(np.arange(x), np.arange(y))
    xx = xx.astype(float)
    yy = yy.astype(float)
    if hexagonal:
        xx[::-2] -= 0.5
    return xx, yy


def scalar_gaussian_rect(x, y, cx, cy, sigma, std):
    d = 2 * std**2 * sigma**2
    out = np.zeros((x, y))
    for i in range(x):
        for j in range(y):
            out[i, j] = math_exp(-((i - cx) ** 2) / d) * math_exp(
                -((j - cy) ** 2) / d)
    return out


def math_exp(v):
    return float(np.exp(np.float32(v) if False else v))


@pytest.mark.parametrize("x,y", [(5, 5), (4, 7)])
@pytest.mark.parametrize("sigma", [1.0, 2.5])
def test_gaussian_rect_every_center(x, y, sigma):
    fn = make_neighborhood("gaussian", "rectangular", x, y, std_coeff=0.5)
    cx, cy = np.meshgrid(np.arange(x), np.arange(y), indexing="ij")
    cx, cy = cx.ravel(), cy.ravel()
    got = fn(cx, cy, sigma)
    assert got.shape == (x * y, x, y)
    for k in range(x * y):
        exp = scalar_gaussian_rect(x, y, cx[k], cy[k], sigma, 0.5)
        np.testing.assert_array_almost_equal(got[k], exp, decimal=5)
    # peak at the center
    for k in range(x * y):
        assert got[k].argmax() == cx[k] * y + cy[k]


def test_gaussian_hex_matches_plane_distance():
    x = y = 5
    xx, yy = grids(x, y, hexagonal=True)
    fn = make_neighborhood("gaussian", "hexagonal", x, y, std_coeff=0.5,
                           xx=xx, yy=yy)
    sigma = 1.5
    d = 2 * 0.25 * sigma**2
    ci = np.array([2])
    cj = np.array([3])
    got = fn(ci, cj, sigma)[0]
    pcx, pcy = xx.T[2, 3], yy.T[2, 3]
    exp = np.exp(-((xx - pcx) ** 2) / d) * np.exp(-((yy - pcy) ** 2) / d)
    np.testing.assert_array_almost_equal(got, exp.T, decimal=5)


def test_bubble_indicator():
    fn = make_neighborhood("bubble", "rectangular", 5, 5)
    got = fn(np.array([2]), np.array([2]), 1.0)[0]
    exp = np.zeros((5, 5))
    exp[2, 2] = 1.0
    np.testing.assert_array_equal(got, exp)
    got2 = fn(np.array([2]), np.array([2]), 2.0)[0]
    assert got2.sum() == 9.0


def test_triangle_shape_and_clamp():
    fn = make_neighborhood("triangle", "rectangular", 5, 5)
    got = fn(np.array([2]), np.array([2]), 2.0)[0]
    assert got[2, 2] == 4.0  # 2*2 outer product peak
    assert got[0, 2] == 0.0  # |2-0| == sigma → clamped to 0
    assert (got >= 0).all()


def test_mexican_hat_negative_lobe():
    fn = make_neighborhood("mexican_hat", "rectangular", 9, 9)
    got = fn(np.array([4]), np.array([4]), 1.0)[0]
    assert got[4, 4] == 1.0
    assert got.min() < 0  # the hat's inhibitory ring


def test_compact_support_masks():
    fn = make_neighborhood("gaussian", "rectangular", 7, 7, std_coeff=0.5,
                           compact_support=True)
    got = fn(np.array([3]), np.array([3]), 1.0)[0]
    # outside radius 1 everything is zero
    mask = np.zeros((7, 7), dtype=bool)
    mask[3, 3] = True
    assert (got[~mask] == 0).all()
    assert got[3, 3] > 0


def test_mexican_hat_compact_quirk_preserved():
    """The reference masks px with BOTH axis masks and py with none
    (neighborhoods.py:69-71); the result is asymmetric in x vs y."""
    fn = make_neighborhood("mexican_hat", "rectangular", 7, 7,
                           compact_support=True)
    got = fn(np.array([3]), np.array([3]), 1.0)[0]
    # y-offsets survive (py unmasked), x-offsets are masked
    assert not np.allclose(got, got.T)


def test_registry_validation():
    with pytest.raises(ValueError):
        make_neighborhood("nope", "rectangular", 3, 3)
    with pytest.raises(ValueError):
        make_neighborhood("triangle", "hexagonal", 3, 3)
    assert "triangle" in neighborhood_names("rectangular")
    assert "triangle" not in neighborhood_names("hexagonal")


def test_compact_mexican_hat_needs_square_rectangular_grid():
    """The reference's compact mexican hat masks px with the y mask too,
    which is defined only when x == y: a non-square rectangular grid
    fails at construction with the config named, not with a broadcast
    error in the first epoch.  Hexagonal grids mask on the meshgrids
    and take any shape."""
    from xpysom_dask_spark import SparkSom

    with pytest.raises(ValueError, match="mexican_hat.*3x5"):
        make_neighborhood("mexican_hat", "rectangular", 3, 5,
                          compact_support=True)
    with pytest.raises(ValueError, match="mexican_hat.*3x5"):
        SparkSom(3, 5, 4, neighborhood_function="mexican_hat",
                 compact_support=True)
    make_neighborhood("mexican_hat", "rectangular", 3, 5)
    xx, yy = np.meshgrid(np.arange(3.0), np.arange(5.0))
    make_neighborhood("mexican_hat", "hexagonal", 3, 5,
                      compact_support=True, xx=xx, yy=yy)


def test_compact_mexican_hat_square_quirk_bit_for_bit():
    """On a square grid the quirk stays: px masked by both axis masks,
    py by none (neighborhoods.py:69-71), in float32."""
    n, sigma, d = 6, 1.7, 2.0 * 0.5**2 * 1.7**2
    cx, cy = np.repeat(np.arange(n), n), np.tile(np.arange(n), n)
    got = make_neighborhood("mexican_hat", "rectangular", n, n,
                            compact_support=True)(cx, cy, sigma)
    dx = np.arange(n)[None, :] - cx[:, None]
    dy = np.arange(n)[None, :] - cy[:, None]
    px = np.power(dx, 2, dtype=np.float32)
    px *= np.abs(dx) < sigma
    px *= np.abs(dy) < sigma
    p = px[:, :, None] + np.power(dy, 2, dtype=np.float32)[:, None, :]
    np.testing.assert_array_equal(
        got, np.exp(-p / d) * (1.0 - (2.0 / d) * p))

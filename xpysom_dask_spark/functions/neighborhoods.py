"""Neighborhood influence kernels (pure NumPy, executor-side).

Given per-sample winner coordinates ``(cx, cy)`` and a radius ``sigma``,
each kernel produces the influence tensor of shape ``(n, x, y)`` used to
weight the training update.  These are the "window-function-like" spatial
operators of the engine (SURVEY.md §2.3); they run inside the per-partition
update UDF with the grid arrays carried in the broadcast model state.

Parity notes (reference: /root/reference/xpysom_dask/neighborhoods.py):

* rectangular kernels evaluate **separably** (1-D ``ax``/``ay`` then outer
  product) — O(n·(x+y)) transcendental calls instead of O(n·x·y), the key
  performance trick of the reference (neighborhoods.py:21-33);
* generic (hexagonal) kernels evaluate over the euclidean-plane meshgrids
  ``xx``/``yy`` with the odd-row −0.5 offset, and transpose the result to
  ``(n, x, y)`` (neighborhoods.py:35-55);
* the mexican-hat compact-support quirk — both the x- and y-axis masks are
  applied to the x-term only (neighborhoods.py:69-71) — is preserved
  deliberately, because correctness is judged against the reference
  (SURVEY.md §5); it is defined only on square rectangular grids (the
  y mask has the x mask's shape only when x = y), so ``make_neighborhood``
  rejects a non-square one;
* float32 transcendental evaluation (``dtype=float32`` on the squared
  offsets) matches neighborhoods.py:26-27/66-67/88-89.
"""

from __future__ import annotations

import numpy as np

__all__ = ["make_neighborhood", "neighborhood_names"]


def _rect_gaussian(neigx, neigy, std_coeff, compact, cx, cy, sigma,
                   dtype=np.float32):
    d = 2.0 * std_coeff**2 * sigma**2
    dx = neigx[None, :] - cx[:, None]
    dy = neigy[None, :] - cy[:, None]
    ax = np.exp(-np.power(dx, 2, dtype=dtype) / d)
    ay = np.exp(-np.power(dy, 2, dtype=dtype) / d)
    if compact:
        ax *= (np.abs(dx) < sigma)
        ay *= (np.abs(dy) < sigma)
    return ax[:, :, None] * ay[:, None, :]


def _generic_gaussian(xx, yy, std_coeff, compact, ci, cj, sigma,
                      dtype=np.float32):
    d = 2.0 * std_coeff**2 * sigma**2
    cx = xx.T[ci, cj][:, None, None]
    cy = yy.T[ci, cj][:, None, None]
    dx = xx[None, :, :] - cx
    dy = yy[None, :, :] - cy
    ax = np.exp(-np.power(dx, 2, dtype=dtype) / d)
    ay = np.exp(-np.power(dy, 2, dtype=dtype) / d)
    if compact:
        ax *= np.logical_and(dx > -sigma, dx < sigma)
        ay *= np.logical_and(dy > -sigma, dy < sigma)
    return (ax * ay).transpose((0, 2, 1))


def _rect_mexican_hat(neigx, neigy, std_coeff, compact, cx, cy, sigma,
                      dtype=np.float32):
    d = 2.0 * std_coeff**2 * sigma**2
    dx = neigx[None, :] - cx[:, None]
    dy = neigy[None, :] - cy[:, None]
    px = np.power(dx, 2, dtype=dtype)
    py = np.power(dy, 2, dtype=dtype)
    if compact:
        # faithful reference quirk: both masks hit px (neighborhoods.py:69-71)
        px *= (np.abs(dx) < sigma)
        px *= (np.abs(dy) < sigma)
    p = px[:, :, None] + py[:, None, :]
    return np.exp(-p / d) * (1.0 - (2.0 / d) * p)


def _generic_mexican_hat(xx, yy, std_coeff, compact, ci, cj, sigma,
                         dtype=np.float32):
    d = 2.0 * std_coeff**2 * sigma**2
    cx = xx.T[ci, cj][:, None, None]
    cy = yy.T[ci, cj][:, None, None]
    px = np.power(xx[None, :, :] - cx, 2, dtype=dtype)
    py = np.power(yy[None, :, :] - cy, 2, dtype=dtype)
    if compact:
        px *= np.logical_and(xx[None, :, :] > cx - sigma, xx[None, :, :] < cx + sigma)
        px *= np.logical_and(yy[None, :, :] > cy - sigma, yy[None, :, :] < cy + sigma)
    p = px + py
    return (np.exp(-p / d) * (1.0 - (2.0 / d) * p)).transpose((0, 2, 1))


def _rect_bubble(neigx, neigy, cx, cy, sigma, dtype=np.float32):
    ax = np.logical_and(neigx[None, :] > cx[:, None] - sigma,
                        neigx[None, :] < cx[:, None] + sigma)
    ay = np.logical_and(neigy[None, :] > cy[:, None] - sigma,
                        neigy[None, :] < cy[:, None] + sigma)
    return (ax[:, :, None] * ay[:, None, :]).astype(dtype)


def _rect_triangle(neigx, neigy, compact, cx, cy, sigma):
    tx = sigma - np.abs(cx[:, None] - neigx[None, :])
    ty = sigma - np.abs(cy[:, None] - neigy[None, :])
    tx[tx < 0] = 0.0
    ty[ty < 0] = 0.0
    if compact:
        tx *= np.abs(cx[:, None] - neigx[None, :]) < sigma
        ty *= np.abs(cy[:, None] - neigy[None, :]) < sigma
    return tx[:, :, None] * ty[:, None, :]


def neighborhood_names(topology: str) -> tuple:
    """Kernel names available for a topology (parity: xpysom.py:255-283;
    triangle is rectangular-only, xpysom.py:207-209)."""
    if topology == "rectangular":
        return ("gaussian", "mexican_hat", "bubble", "triangle")
    return ("gaussian", "mexican_hat", "bubble")


def make_neighborhood(name, topology, x, y, std_coeff=0.5,
                      compact_support=False, xx=None, yy=None,
                      dtype=np.float32):
    """Build ``influence(cx, cy, sigma) -> (n, x, y)`` for the given config.

    ``cx``/``cy`` are int arrays of winner *map indices*.  For hexagonal
    topology the gaussian/mexican-hat kernels need the euclidean-plane
    meshgrids ``xx``/``yy`` (shape ``(y, x)``, odd-row offset already
    applied) — these live in the model state and are passed in.

    The returned closure carries only small NumPy arrays, so it pickles
    cheaply into Spark task closures.  Raises ``ValueError`` on unknown
    names, matching xpysom.py:228-231.
    """
    avail = neighborhood_names(topology)
    if name not in avail:
        raise ValueError(
            "%s not supported. Functions available: %s" % (name, ", ".join(avail))
        )
    neigx = np.arange(x)
    neigy = np.arange(y)
    hex_grid = topology == "hexagonal"
    if hex_grid and name in ("gaussian", "mexican_hat") and (xx is None or yy is None):
        raise ValueError("hexagonal gaussian/mexican_hat need xx/yy meshgrids")

    if name == "gaussian":
        if hex_grid:
            return lambda cx, cy, sigma: _generic_gaussian(
                xx, yy, std_coeff, compact_support, cx, cy, sigma, dtype)
        return lambda cx, cy, sigma: _rect_gaussian(
            neigx, neigy, std_coeff, compact_support, cx, cy, sigma, dtype)
    if name == "mexican_hat":
        if compact_support and not hex_grid and x != y:
            raise ValueError(
                "rectangular mexican_hat with compact_support=True needs a "
                "square grid (the reference masks the x term with the y "
                f"mask too), got {x}x{y}")
        if hex_grid:
            return lambda cx, cy, sigma: _generic_mexican_hat(
                xx, yy, std_coeff, compact_support, cx, cy, sigma, dtype)
        return lambda cx, cy, sigma: _rect_mexican_hat(
            neigx, neigy, std_coeff, compact_support, cx, cy, sigma, dtype)
    if name == "bubble":
        # bubble always evaluates on map-index grids, even for hex
        # (xpysom.py:277-278)
        return lambda cx, cy, sigma: _rect_bubble(
            neigx, neigy, cx, cy, sigma, dtype)
    # triangle (rectangular only)
    return lambda cx, cy, sigma: _rect_triangle(
        neigx, neigy, compact_support, cx, cy, sigma)

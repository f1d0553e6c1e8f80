"""Sample-to-codebook distance kernels (pure NumPy, executor-side).

Every kernel maps a sample block ``x`` of shape ``(n, d)`` and a *flat*
codebook ``w`` of shape ``(m, d)`` to an ``(n, m)`` distance matrix.  This
is the numeric heart of best-matching-unit search.  Structurally it is a
broadcast nested-loop cross join with an aggregated distance expression —
we keep it as BLAS GEMM inside Arrow-vectorized UDF stages because a
relational ``crossJoin`` + ``aggregate()`` over zipped arrays would be
orders of magnitude slower (SURVEY.md §2.2); Catalyst treats the kernel as
a black box, exactly like MLlib's own KMeans.

Behavioral parity with the reference engine
(/root/reference/xpysom_dask/distances.py):

* ``'euclidean'`` resolves to the **partial** squared L2 that drops the
  per-row ``‖x‖²`` term (distances.py:11-23).  The term is constant along
  the codebook axis, so argmin is unchanged — but the raw activation
  values are *not* true distances.  ``'euclidean_no_opt'`` is the full
  squared distance.
* NaN scrubbing placement mirrors distances.py:38-43 and :57 so that
  negative rounding epsilons under the sqrt and zero-vector cosines
  behave identically.
* ``can_cache`` marks kernels whose ``‖w‖²`` column may be hoisted once
  per training epoch and shipped with the broadcast codebook
  (distances.py:179-182).
* ``relative_cost`` is a kernel's BMU-search time per (row, cell,
  feature) relative to ``'euclidean'``; the training plan weighs its
  work estimate with it when choosing between its two paths.
"""

from __future__ import annotations

from math import comb

import numpy as np

__all__ = [
    "codebook_sq_norms",
    "squared_euclidean_part",
    "squared_euclidean",
    "euclidean",
    "cosine",
    "pnorm_power_broadcast",
    "pnorm_power_even",
    "pnorm_power",
    "manhattan",
    "resolve_distance",
    "DistanceKernel",
    "DISTANCE_NAMES",
]


def codebook_sq_norms(w: np.ndarray) -> np.ndarray:
    """``‖w_j‖²`` per codebook row, shape ``(m, 1)`` — the epoch-cacheable term."""
    return np.power(w, 2).sum(axis=1, keepdims=True)


def _own(a, *others):
    """``a`` as the ``out=`` of an elementwise op on ``a`` and ``others``
    (a float scalar stands in for a float-valued unary op such as sqrt)
    when the result has ``a``'s dtype, else None (numpy allocates).
    Only for arrays the kernel made itself: the values are the
    allocating expression's, without its (n, m) temporaries, whose
    first-touch page faults cost as much as the arithmetic at SOM
    sizes."""
    return a if np.result_type(a, *others) == a.dtype else None


def squared_euclidean_part(x, w, w_sq=None):
    """Partial squared L2: ``‖w‖² − 2·x·wᵀ`` (omits row-constant ``‖x‖²``).

    Argmin-equivalent to the true squared distance; one GEMM per block.
    Parity: distances.py:11-23.
    """
    if w_sq is None:
        w_sq = codebook_sq_norms(w)
    xw = np.dot(x, w.T)
    xw = np.multiply(xw, 2.0, out=_own(xw, 2.0))
    return np.subtract(w_sq.T, xw, out=_own(xw, w_sq))


def squared_euclidean(x, w, w_sq=None):
    """Full squared L2 distance. Parity: distances.py:25-31."""
    x_sq = np.power(x, 2).sum(axis=1, keepdims=True)
    d = squared_euclidean_part(x, w, w_sq)
    return np.add(d, x_sq, out=_own(d, x_sq))


def euclidean(x, w, w_sq=None):
    """True L2 distance; scrubs NaNs produced by negative epsilons under the
    sqrt (parity: distances.py:33-43 — minus its duplicated computation,
    which SURVEY.md §5 flags as pure waste)."""
    d = squared_euclidean(x, w, w_sq)
    d = np.sqrt(d, out=_own(d, 1.0))
    return np.nan_to_num(d, copy=False)


def cosine(x, w, w_sq=None):
    """Cosine distance ``1 − x·w/(‖x‖·‖w‖)``; zero vectors yield similarity 0
    via nan_to_num, matching distances.py:45-59."""
    if w_sq is None:
        w_sq = codebook_sq_norms(w)
    xw = np.dot(x, w.T)
    x_sq = np.power(x, 2).sum(axis=1, keepdims=True)
    norms = x_sq * w_sq.T
    norms = np.sqrt(norms, out=_own(norms, 1.0))
    sim = np.nan_to_num(np.divide(xw, norms, out=_own(xw, norms)),
                        copy=False)
    return np.subtract(1.0, sim, out=_own(sim, 1.0))


def pnorm_power_broadcast(x, w, p=2):
    """``Σ_k |x_k − w_k|^p`` via 3-D broadcasting — O(n·m·d) memory traffic,
    the generic fallback for odd p. Parity: distances.py:61-75."""
    return np.power(np.abs(x[:, None, :] - w[None, :, :]), p).sum(axis=2)


def pnorm_power_even(x, w, p=2):
    """Even-p binomial expansion of ``Σ|x−w|^p`` into ``p+1`` GEMMs:
    ``Σ_e (−1)^e C(p,e) · x^(p−e) · (w^e)ᵀ``. Parity: distances.py:77-96."""
    if p % 2 != 0:
        raise ValueError("p must be even")
    acc = np.zeros((x.shape[0], w.shape[0]))
    for e in range(p + 1):
        sign = -1.0 if e % 2 else 1.0
        acc += sign * comb(p, e) * np.dot(x ** (p - e), (w ** e).T)
    return acc


def pnorm_power(x, w, p=2):
    """Dispatch to the even-p GEMM expansion when possible.
    Parity: distances.py:98-107."""
    if p % 2 == 0:
        return pnorm_power_even(x, w, p=p)
    return pnorm_power_broadcast(x, w, p=p)


def manhattan(x, w):
    """L1 distance (CPU path; the reference's CUDA ReductionKernel at
    distances.py:109-135 is available as the import-gated
    :func:`manhattan_cuda` for CuPy/RAPIDS environments)."""
    return pnorm_power_broadcast(x, w, p=1)


def manhattan_cuda(x, w):
    """L1 distance on the GPU via a raw-CUDA ReductionKernel —
    parity with the reference's ``_manhattan_distance_kernel`` /
    ``manhattan_distance_cuda`` (distances.py:109-135): map
    ``abs(x−w)``, reduce ``a+b`` over the feature axis of the
    broadcast 3-D views.

    Import-gated like the Avro/Delta connectors (sources/writers.py):
    this container ships no GPU stack, so calling it without CuPy
    raises an actionable ImportError naming the package; with CuPy
    present it computes the same values as :func:`manhattan` (float32
    GPU reduction, so compare with ``rtol≈1e-6``).
    """
    try:
        import cupy as cp
    except ImportError as exc:  # pragma: no cover - exercised in test
        raise ImportError(
            "manhattan_cuda requires CuPy (RAPIDS): install "
            "cupy-cuda12x (or the cupy build matching your CUDA "
            "toolkit). The CPU path — resolve_distance('manhattan') — "
            "computes identical values without a GPU.") from exc
    kern = cp.ReductionKernel(
        "T x, T y", "T z", "abs(x - y)", "a + b", "z = a", "0",
        "xpysom_dask_spark_l1")
    xg = cp.asarray(x, cp.float32)
    wg = cp.asarray(w, cp.float32)
    out = kern(xg[:, None, :], wg[None, :, :], axis=2)
    return cp.asnumpy(out)


#: relative cost of the (n, m, d) broadcast kernels (manhattan, odd-p norms)
_BROADCAST_COST = 16.0


def _pnorm_cost(p=2):
    """Even ``p`` runs ``p + 1`` GEMMs (:func:`pnorm_power_even`); odd
    ``p`` takes the (n, m, d) broadcast."""
    return p + 1.0 if p % 2 == 0 else _BROADCAST_COST

# name → (kernel, accepts w_sq, relative cost).  Names match the reference
# registry (distances.py:160-175) so user configs carry over unchanged.
# The cost is BMU-search time (kernel + argmin) per row·cell·feature
# relative to 'euclidean', measured on 20k rows × 100 cells × 8 float32
# features: euclidean_no_opt 1.0-1.2, cosine 2.4-2.7, norm_p p=2/4/6/8
# 2.5/4.7/6.1/7.9, the broadcast kernels 14-17.  A float, or a function
# of the kernel kwargs when the kwargs pick the algorithm.
_KERNELS = {
    "euclidean": (squared_euclidean_part, True, 1.0),
    "euclidean_no_opt": (squared_euclidean, True, 1.2),
    "manhattan": (manhattan, False, _BROADCAST_COST),
    "manhattan_no_opt": (manhattan, False, _BROADCAST_COST),
    # GPU twin of the reference's cupy dispatch branch
    # (distances.py:147-158); import-gated — resolves at registry
    # level everywhere, raises an actionable ImportError at first
    # call when CuPy is absent.  Costed as its CPU twin.
    "manhattan_cuda": (manhattan_cuda, False, _BROADCAST_COST),
    "cosine": (cosine, True, 2.5),
    "norm_p": (pnorm_power, False, _pnorm_cost),
    "norm_p_no_opt": (pnorm_power_broadcast, False, _BROADCAST_COST),
}

#: kernels whose ‖w‖² may be hoisted once per epoch (distances.py:179-182)
_CACHEABLE = frozenset({"euclidean", "cosine"})

DISTANCE_NAMES = tuple(_KERNELS)


class DistanceKernel:
    """A resolved distance function with its epoch-cache contract.

    Callable as ``kernel(x, w_flat, w_sq=None)`` where ``w_flat`` is the
    ``(x·y, d)`` flattened codebook.  ``can_cache`` tells the training plan
    whether to hoist ``‖w‖²`` into the per-epoch broadcast (SURVEY.md §4 O2);
    ``relative_cost`` is its BMU-search cost relative to ``'euclidean'``.

    Picklable (name-based), so it ships cleanly inside task closures.
    """

    __slots__ = ("name", "kwargs", "can_cache", "relative_cost", "_fn",
                 "_takes_wsq")

    def __init__(self, name: str, kwargs: dict | None = None):
        if name not in _KERNELS:
            raise ValueError(
                "%s not supported. Distances available: %s"
                % (name, ", ".join(_KERNELS))
            )
        self.name = name
        self.kwargs = dict(kwargs or {})
        self._fn, self._takes_wsq, cost = _KERNELS[name]
        self.can_cache = name in _CACHEABLE
        self.relative_cost = float(cost(**self.kwargs) if callable(cost)
                                   else cost)

    def __call__(self, x, w_flat, w_sq=None):
        if self._takes_wsq:
            return self._fn(x, w_flat, w_sq, **self.kwargs)
        return self._fn(x, w_flat, **self.kwargs)

    def __reduce__(self):
        return (DistanceKernel, (self.name, self.kwargs))


def resolve_distance(name: str, kwargs: dict | None = None) -> DistanceKernel:
    """Look up a distance kernel by registry name (extensible via _KERNELS)."""
    return DistanceKernel(name, kwargs)

"""Distance kernels vs naive per-pair oracles.

Mirrors the reference corpus (FIXTURES.md F2/F3: exhaustive binary vectors
for l=1..3 plus seeded random fuzz), with the same oracle lambdas as
/root/reference/xpysom_dask/test_distances.py:92-135 semantics.
"""

import itertools
import math

import numpy as np
import pytest

from xpysom_dask_spark.functions import distances as D


def naive(pair_fn, X, W):
    return np.array([[pair_fn(x, w) for w in W] for x in X])


ORACLES = {
    "euclidean": lambda x, w: np.sum(w**2) - 2 * np.dot(x, w),
    "euclidean_no_opt": lambda x, w: np.sum((x - w) ** 2),
    "manhattan": lambda x, w: np.sum(np.abs(x - w)),
    "manhattan_no_opt": lambda x, w: np.sum(np.abs(x - w)),
    "cosine": lambda x, w: 1
    - np.nan_to_num(np.dot(x, w) / np.sqrt(np.sum(x**2) * np.sum(w**2))),
    "norm_p2": lambda x, w: np.sum(np.abs(x - w) ** 2),
    "norm_p3": lambda x, w: np.sum(np.abs(x - w) ** 3),
    "norm_p4": lambda x, w: np.sum(np.abs(x - w) ** 4),
}


def binary_corpus(l):
    vs = np.array(list(itertools.product([0.0, 1.0], repeat=l)))
    yield vs, vs
    yield vs[:1], vs
    yield vs, vs[:1]
    yield vs[:: max(1, len(vs) // 2)], vs


def fuzz_corpus():
    rng = np.random.RandomState(0)
    for n in (2, 7):
        for m in (3, 11):
            for d in (5, 13):
                yield rng.rand(n, d), rng.rand(m, d)


def all_corpora():
    for l in (1, 2, 3):
        yield from binary_corpus(l)
    yield from fuzz_corpus()


@pytest.mark.parametrize("name", list(ORACLES))
def test_kernel_matches_naive_oracle(name):
    if name.startswith("norm_p"):
        p = int(name[-1])
        kern = D.resolve_distance("norm_p", {"p": p})
        kern2 = D.resolve_distance("norm_p_no_opt", {"p": p})
    else:
        kern = D.resolve_distance(name)
        kern2 = None
    for X, W in all_corpora():
        expected = naive(ORACLES[name], X, W)
        got = kern(X, W)
        np.testing.assert_array_almost_equal(got, expected, decimal=6)
        if kern2 is not None:
            np.testing.assert_array_almost_equal(kern2(X, W), expected, 6)


def test_partial_euclidean_is_argmin_equivalent():
    rng = np.random.RandomState(7)
    X, W = rng.rand(50, 6), rng.rand(30, 6)
    part = D.squared_euclidean_part(X, W)
    full = D.squared_euclidean(X, W)
    np.testing.assert_array_equal(part.argmin(1), full.argmin(1))
    # and the offset is exactly the per-row ‖x‖²
    x_sq = np.broadcast_to((X**2).sum(1, keepdims=True), full.shape)
    np.testing.assert_allclose(full - part, x_sq, atol=1e-12)


def test_wsq_cache_matches_uncached():
    rng = np.random.RandomState(3)
    X, W = rng.rand(20, 4), rng.rand(9, 4)
    wsq = D.codebook_sq_norms(W)
    for name in ("euclidean", "cosine"):
        k = D.resolve_distance(name)
        assert k.can_cache
        np.testing.assert_allclose(k(X, W, wsq), k(X, W), atol=1e-12)


def test_cosine_zero_vector_nan_scrub():
    X = np.zeros((1, 3))
    W = np.array([[1.0, 2.0, 3.0], [0.0, 0.0, 0.0]])
    got = D.cosine(X, W)
    np.testing.assert_array_equal(got, np.ones((1, 2)))


def test_euclidean_negative_epsilon_scrub():
    # identical x/w can produce tiny negative squared distances under the
    # GEMM form; sqrt must not leak NaN (distances.py:33-43 contract)
    X = np.array([[0.1, 0.2, 0.3]] * 4)
    got = D.euclidean(X, X.copy())
    assert np.isfinite(got).all()
    assert (np.diag(got) < 1e-5).all()


def test_even_p_requires_even():
    with pytest.raises(ValueError):
        D.pnorm_power_even(np.ones((2, 2)), np.ones((2, 2)), p=3)


def test_unknown_distance_raises():
    with pytest.raises(ValueError):
        D.resolve_distance("chebyshev")


def test_kernel_pickles():
    import pickle

    k = pickle.loads(pickle.dumps(D.resolve_distance("norm_p", {"p": 4})))
    X = np.ones((2, 3))
    W = np.zeros((2, 3))
    np.testing.assert_allclose(k(X, W), np.full((2, 2), 3.0))


def test_manhattan_cuda_gated_or_matches_cpu():
    """D8/D9 parity: the raw-CUDA L1 kernel resolves from the registry
    everywhere; without CuPy the first call raises an actionable
    ImportError naming the package (the Avro/Delta connector gating
    pattern), with CuPy it must match the CPU path."""
    k = D.resolve_distance("manhattan_cuda")
    X = np.random.default_rng(0).normal(size=(4, 3)).astype(np.float32)
    W = np.random.default_rng(1).normal(size=(5, 3)).astype(np.float32)
    try:
        import cupy  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="cupy"):
            k(X, W)
        return
    np.testing.assert_allclose(k(X, W), D.manhattan(X, W), rtol=1e-5)


#: The GEMM kernels as plain allocating expressions: the kernels compute
#: them in place on their own x·wᵀ, and must match them bit for bit —
#: value and dtype — or trained weights drift.
ALLOCATING = {
    "squared_euclidean_part": lambda x, w, w_sq: w_sq.T - 2.0 * np.dot(x, w.T),
    "squared_euclidean": lambda x, w, w_sq: (
        w_sq.T - 2.0 * np.dot(x, w.T) + np.power(x, 2).sum(axis=1,
                                                        keepdims=True)),
    "euclidean": lambda x, w, w_sq: np.nan_to_num(np.sqrt(
        w_sq.T - 2.0 * np.dot(x, w.T) + np.power(x, 2).sum(axis=1,
                                                          keepdims=True))),
    "cosine": lambda x, w, w_sq: 1.0 - np.nan_to_num(
        np.dot(x, w.T) / np.sqrt(np.power(x, 2).sum(axis=1, keepdims=True)
                                 * w_sq.T)),
}


@pytest.mark.parametrize("name", sorted(ALLOCATING))
@pytest.mark.parametrize("xdt,wdt", [(np.float32, np.float32),
                                     (np.float64, np.float64),
                                     (np.float32, np.float64),
                                     (np.float64, np.float32),
                                     (np.int64, np.int64)])
def test_in_place_kernels_equal_allocating_expressions(name, xdt, wdt):
    rng = np.random.RandomState(4)
    x = (rng.rand(300, 6) * 10).astype(xdt)
    w = (rng.rand(20, 6) * 10).astype(wdt)
    x[3] = 0
    w[4] = 0   # zero vectors: the cosine NaN scrub
    w_sq = D.codebook_sq_norms(w)
    fn = getattr(D, name)
    with np.errstate(all="ignore"):
        want = ALLOCATING[name](x, w, w_sq)
        for got in (fn(x, w), fn(x, w, w_sq)):
            assert got.dtype == want.dtype
            np.testing.assert_array_equal(got, want)

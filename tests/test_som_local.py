"""SparkSom local (ndarray) path vs the reference's golden fixtures.

F1 ``som_tiny``: 5×5×1 map, zero weights except W[2,3]=5, W[1,1]=2 —
known BMUs and metric goldens (reference tests.py:22-96; FIXTURES.md F1).
F4: determinism / QE-monotonicity / pca golden (tests.py:98-143).
"""

import os
import pickle
import signal
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pytest

from xpysom_dask_spark import SparkSom
from xpysom_dask_spark.functions.distances import (codebook_sq_norms,
                                                   resolve_distance)
from xpysom_dask_spark.plans import training


@pytest.fixture
def tiny():
    som = SparkSom(5, 5, 1, random_seed=1)
    som._weights = np.zeros((5, 5, 1))
    som._weights[2, 3] = 5.0
    som._weights[1, 1] = 2.0
    return som


DATA = np.array([[5.0], [2.0], [4.0], [1.0]])


def test_winner_goldens(tiny):
    assert tiny.winner([5.0]) == (2, 3)
    assert tiny.winner([2.0]) == (1, 1)
    # [1.0] ties between w=0 neurons and w=2 → first raveled index wins,
    # identical to the reference argmin semantics
    assert tiny.winner(DATA) == [(2, 3), (1, 1), (2, 3), (0, 0)]


def test_activate_golden(tiny):
    act = tiny.activate(5.0)
    assert act.shape == (1, 25)
    assert act.argmin() == 13  # raveled (2,3)


def test_activation_response(tiny):
    resp = tiny.activation_response(DATA)
    assert resp[2, 3] == 2
    assert resp[1, 1] == 1
    assert resp[0, 0] == 1  # [1.0] tie → first raveled index
    assert resp.sum() == 4


def test_quantization(tiny):
    q = tiny.quantization([[4.0], [2.0]])
    np.testing.assert_array_equal(q, [[5.0], [2.0]])


def test_quantization_error(tiny):
    assert tiny.quantization_error([[5.0], [2.0]]) == 0.0
    assert tiny.quantization_error([[4.0], [1.0]]) == 1.0


def test_topographic_error():
    som = SparkSom(5, 5, 1, random_seed=1)
    som._weights = np.zeros((5, 5, 1))
    # adjacent top-2 → no error
    som._weights[2, 3] = 5.0
    som._weights[2, 2] = 4.9
    assert som.topographic_error([[5.0]]) == 0.0
    # distant top-2 → full error
    som._weights[2, 2] = 0.0
    som._weights[0, 0] = 4.9
    assert som.topographic_error([[5.0]]) == 1.0


def test_topographic_error_1x1_nan():
    som = SparkSom(1, 1, 1, random_seed=1)
    with pytest.warns(UserWarning):
        assert np.isnan(som.topographic_error([[1.0]]))


def test_win_map(tiny):
    wm = tiny.win_map(DATA)
    assert len(wm[(2, 3)]) == 2
    assert len(wm[(1, 1)]) == 1
    assert len(wm[(0, 0)]) == 1


def test_labels_map(tiny):
    lm = tiny.labels_map(DATA, ["a", "b", "a", "b"])
    assert lm[(2, 3)]["a"] == 2
    assert lm[(1, 1)]["b"] == 1
    assert lm[(0, 0)]["b"] == 1
    with pytest.raises(ValueError):
        tiny.labels_map(DATA, ["a"])


def test_predict_flat_ids(tiny):
    ids = tiny.predict(DATA)
    np.testing.assert_array_equal(ids, [13, 6, 13, 0])


def test_seeded_init_bit_identical_to_reference_formula():
    som = SparkSom(4, 3, 2, random_seed=42)
    rng = np.random.RandomState(42)
    w = rng.rand(4, 3, 2) * 2 - 1
    w /= np.linalg.norm(w, axis=-1, keepdims=True)
    np.testing.assert_array_equal(som.get_weights(), w)
    # rows are unit-normalized (tests.py:27-30)
    np.testing.assert_allclose(
        np.linalg.norm(som.get_weights(), axis=-1), 1.0, atol=1e-12)


def test_same_seed_same_training():
    rng = np.random.RandomState(1234)
    data = rng.rand(100, 2)
    som1 = SparkSom(5, 5, 2, sigma=1.0, learning_rate=0.5, random_seed=1)
    som2 = SparkSom(5, 5, 2, sigma=1.0, learning_rate=0.5, random_seed=1)
    som1.train(data, 10)
    som2.train(data, 10)
    np.testing.assert_array_equal(som1.get_weights(), som2.get_weights())


def test_qe_decreases_after_training():
    rng = np.random.RandomState(1234)
    data = rng.rand(100, 2)
    som = SparkSom(5, 5, 2, sigma=1.0, learning_rate=0.5, random_seed=1)
    q1 = som.quantization_error(data)
    som.train(data, 5)
    assert som.quantization_error(data) < q1


def test_batch_size_invariance():
    """Partial sums are commutative: mini-batch split must not change the
    result beyond float32 association noise — the property that makes the
    distributed path correct (SURVEY.md §7 risk register)."""
    rng = np.random.RandomState(5)
    data = rng.rand(257, 3)
    w = None
    for br in (16, 64, 257):
        som = SparkSom(4, 4, 3, random_seed=9, batch_rows=br,
                       dtype=np.float64)
        som.train(data, 3)
        if w is None:
            w = som.get_weights()
        else:
            np.testing.assert_allclose(som.get_weights(), w, atol=1e-9)


def test_pca_init_golden():
    som = SparkSom(2, 2, 2, random_seed=1)
    som.pca_weights_init(np.array([[1.0, 0.0], [0.0, 1.0],
                                   [1.0, 0.0], [0.0, 1.0]]))
    expected = np.array([[[0.0, -1.41421356], [-1.41421356, 0.0]],
                         [[1.41421356, 0.0], [0.0, 1.41421356]]])
    np.testing.assert_array_almost_equal(som.get_weights(), expected)


def test_distance_map_golden():
    som = SparkSom(2, 2, 1, random_seed=1)
    som._weights = np.array([[[1.0], [0.0]], [[1.0], [4.0]]])
    # reference golden (tests.py:136-143 construction): normalized
    # neighbor-distance sums
    dm = som.distance_map()
    assert dm.max() == 1.0
    assert dm.shape == (2, 2)
    um = np.zeros((2, 2))
    W = som._weights
    for i in range(2):
        for j in range(2):
            for (di, dj) in [(-1, -1), (-1, 0), (-1, 1), (0, -1),
                             (0, 1), (1, -1), (1, 0), (1, 1)]:
                if 0 <= i + di < 2 and 0 <= j + dj < 2:
                    um[i, j] += abs(W[i, j, 0] - W[i + di, j + dj, 0])
    np.testing.assert_array_almost_equal(dm, um / um.max())


def test_random_weights_init_draws_data_rows():
    rng = np.random.RandomState(0)
    data = rng.rand(50, 3)
    som = SparkSom(3, 3, 3, random_seed=7)
    som.random_weights_init(data)
    flat = som.get_weights().reshape(-1, 3)
    for row in flat:
        assert any(np.array_equal(row, drow) for drow in data)


def test_invalid_names_raise():
    with pytest.raises(ValueError):
        SparkSom(3, 3, 2, neighborhood_function="boogie")
    with pytest.raises(ValueError):
        SparkSom(3, 3, 2, activation_distance="ridge")
    with pytest.raises(ValueError):
        SparkSom(3, 3, 2, topology="toroidal")
    with pytest.raises(ValueError):
        SparkSom(3, 3, 2, decay_function="polynomial")


def test_pickle_roundtrip():
    som = SparkSom(4, 4, 2, random_seed=3)
    rng = np.random.RandomState(0)
    data = rng.rand(20, 2)
    som.train(data, 2)
    clone = pickle.loads(pickle.dumps(som))
    np.testing.assert_array_equal(clone.get_weights(), som.get_weights())
    assert clone.winner(data[:5]) == som.winner(data[:5])


def test_save_load_roundtrip(tmp_path):
    som = SparkSom(4, 4, 2, random_seed=3, topology="hexagonal")
    path = str(tmp_path / "model")
    som.save(path)
    clone = SparkSom.load(path)
    np.testing.assert_array_equal(clone.get_weights(), som.get_weights())
    assert clone.topology == "hexagonal"


def test_hexagonal_training_runs():
    rng = np.random.RandomState(2)
    data = rng.rand(60, 2)
    som = SparkSom(4, 4, 2, random_seed=1, topology="hexagonal")
    q0 = som.quantization_error(data)
    som.train(data, 5)
    assert som.quantization_error(data) < q0


def test_train_input_width_check():
    som = SparkSom(3, 3, 4, random_seed=1)
    with pytest.raises(ValueError, match="expected 4"):
        som.train(np.ones((10, 3)), 1)


def test_chunked_activation_matches_whole():
    """batch_rows chunking of the local winner/predict/quantization/
    topographic paths (reference n_parallel parity, xpysom.py:389-398)
    must match the unchunked computation.  (Training itself is compared
    on shared weights: accumulation order across chunk sizes legitimately
    differs in float, exactly as the reference's n_parallel does.)"""
    rng = np.random.RandomState(3)
    X = rng.rand(257, 6)
    whole = SparkSom(6, 5, 6, random_seed=9, batch_rows=10**9)
    whole.train(X, 2)
    chunked = SparkSom(6, 5, 6, random_seed=9, batch_rows=17)
    chunked._weights = whole._weights.copy()
    np.testing.assert_array_equal(whole.predict(X), chunked.predict(X))
    assert whole.winner(X) == chunked.winner(X)
    np.testing.assert_array_equal(whole.quantization(X),
                                  chunked.quantization(X))
    np.testing.assert_array_equal(whole.distance_from_weights(X),
                                  chunked.distance_from_weights(X))
    assert (whole.topographic_error(X) == chunked.topographic_error(X))
    assert (whole.quantization_error(X) == chunked.quantization_error(X))
    np.testing.assert_array_equal(whole.activation_response(X),
                                  chunked.activation_response(X))


def test_reference_backend_knobs_accepted(spark):
    """Reference constructor call sites run unchanged: xp/use_dask/
    dask_chunks are accepted (warned, ignored — backend selection has
    no meaning on Spark), n_parallel maps to batch_rows, and the model
    is bit-identical to one built without the knobs."""
    import warnings

    import numpy as np

    from xpysom_dask_spark import SparkSom

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        som = SparkSom(4, 4, 3, random_seed=7, xp=np, use_dask=True,
                       dask_chunks=(128, 3), n_parallel=4096)
    assert som.batch_rows == 4096
    msgs = " ".join(str(x.message) for x in w)
    assert "use_dask" in msgs and "dask_chunks" in msgs
    ref = SparkSom(4, 4, 3, random_seed=7)
    np.testing.assert_array_equal(som.get_weights(), ref.get_weights())


def test_n_parallel_zero_means_auto(spark):
    """The reference's documented default n_parallel=0 means
    'auto-infer' (xpysom.py:242-249) — it must keep the batch_rows
    default, not set it to 0 (which would make every chunked method's
    range() step zero).  Negative values get an actionable error."""
    import numpy as np
    import pytest

    from xpysom_dask_spark import SparkSom

    auto = SparkSom(4, 4, 3, random_seed=7, n_parallel=0)
    ref = SparkSom(4, 4, 3, random_seed=7)
    assert auto.batch_rows == ref.batch_rows > 0
    # the reference default call site trains unchanged
    X = np.random.RandomState(0).rand(50, 3).astype(np.float32)
    auto.train(X, 1)
    assert np.isfinite(auto.quantization_error(X))
    with pytest.raises(ValueError, match="n_parallel"):
        SparkSom(4, 4, 3, n_parallel=-1)


def _serial_fit(som, X, epochs):
    """The single-threaded epoch loop: kernel + argmin per
    ``BMU_CHUNK_ROWS`` chunk with OpenBLAS at one thread, then per-cell
    sums accumulated block by block in order."""
    K, d = som._x * som._y, som._input_len
    X = np.asarray(X, dtype=som.dtype)
    W = som._weights.astype(som.dtype)
    step = training.BMU_CHUNK_ROWS
    for t in range(epochs):
        w_flat = W.reshape(-1, d)
        w_sq = codebook_sq_norms(w_flat) if som._distance.can_cache else None
        eta = som._decay(som._learning_rate, som._learning_rateN, t, epochs)
        sig = som._decay(som._sigma, som._sigmaN, t, epochs)
        c = np.zeros(K)
        S = np.zeros((K, d))
        for s in range(0, len(X), som.batch_rows):
            block = X[s: s + som.batch_rows]
            with training._blas_single_threaded():
                idx = np.concatenate([
                    som._distance(block[a: a + step], w_flat,
                                  w_sq).argmin(axis=1)
                    for a in range(0, len(block), step)])
            cc, SS = training.bmu_cell_sums(block, idx, K)
            c += cc
            S += SS
        num, den = som._apply_influence(S, c, sig, eta)
        den3 = den.reshape(som._x, som._y)[:, :, None]
        W = np.where(den3 != 0, num.reshape(W.shape) / den3,
                     W).astype(som.dtype)
    return W


needs_openblas = pytest.mark.skipif(
    not training._openblas_threads(),
    reason="no OpenBLAS loaded: the BMU search runs on one thread")


@needs_openblas
@pytest.mark.parametrize("n", [1000, 3])
@pytest.mark.parametrize("topology", ["rectangular", "hexagonal"])
@pytest.mark.parametrize("distance", ["euclidean", "cosine", "manhattan"])
def test_threaded_fit_bit_identical_to_serial(monkeypatch, distance,
                                              topology, n):
    """Sharing the BMU chunks among driver threads changes no bit of the
    weights: 1000 rows in 256-row blocks (the last one 232 rows) of
    64-row chunks on four threads, and 3 rows, one chunk, inline."""
    monkeypatch.setattr(training, "driver_threads", lambda: 4)
    monkeypatch.setattr(training, "BMU_CHUNK_ROWS", 64)
    X = np.random.RandomState(11).rand(n, 5).astype(np.float32)

    def model():
        return SparkSom(6, 5, 5, random_seed=4, batch_rows=256,
                        topology=topology, activation_distance=distance)

    som = model()
    som._train_local(X, 3, 0, 3, info=(info := {}))
    assert (info["threads"], len(info["epochs"])) == (
        (4, 3) if n > 64 else (1, 3))
    np.testing.assert_array_equal(som.get_weights(),
                                  _serial_fit(model(), X, 3))


@needs_openblas
@pytest.mark.parametrize("distance", ["euclidean", "euclidean_no_opt",
                                      "cosine", "manhattan", "norm_p"])
def test_bmu_indices_on_near_ties_same_on_any_thread_count(monkeypatch,
                                                           distance):
    """Codebook rows in pairs one float32 ulp apart: every row's argmin
    hangs on the last bit of its activations.  A GEMM's bits depend on
    its row count and on OpenBLAS's thread count, so the chunks are
    fixed-size and pinned: 1, 2, 3 and 4 threads give the same cells."""
    monkeypatch.setattr(training, "BMU_CHUNK_ROWS", 500)
    rng = np.random.RandomState(21)
    X = rng.rand(4000, 8).astype(np.float32)
    W = rng.rand(12, 8).astype(np.float32)
    W = np.vstack([W, W + np.float32(6e-8) * rng.choice([-1, 1], W.shape)
                   ]).astype(np.float32)
    kernel = resolve_distance(distance)
    w_sq = codebook_sq_norms(W) if kernel.can_cache else None
    got = []
    for threads in (1, 2, 3, 4):
        monkeypatch.setattr(training, "driver_threads", lambda: threads)
        assert training.bmu_threads(len(X)) == threads
        got.append(training.bmu_indices(kernel, X, W, w_sq))
    for idx in got[1:]:
        np.testing.assert_array_equal(idx, got[0])


def test_one_core_runs_inline_with_same_weights(monkeypatch):
    X = np.random.RandomState(12).rand(700, 4).astype(np.float32)
    monkeypatch.setattr(training, "BMU_CHUNK_ROWS", 100)
    threaded = SparkSom(5, 5, 4, random_seed=2, batch_rows=300)
    monkeypatch.setattr(training, "driver_threads", lambda: 4)
    threaded.train(X, 2)
    monkeypatch.setattr(training, "driver_threads", lambda: 1)
    inline = SparkSom(5, 5, 4, random_seed=2, batch_rows=300)
    inline._train_local(X, 2, 0, 2, info=(info := {}))
    assert info["threads"] == 1
    np.testing.assert_array_equal(inline.get_weights(),
                                  threaded.get_weights())


@needs_openblas
def test_blas_thread_count_restored(monkeypatch):
    """The BMU search runs with OpenBLAS at one thread and restores the
    previous count afterwards — also when the kernel raises on a pool
    thread, which fails the fit and leaves the pool usable."""
    monkeypatch.setattr(training, "driver_threads", lambda: 4)
    monkeypatch.setattr(training, "BMU_CHUNK_ROWS", 50)
    get, set_ = training._openblas_threads()[0]
    X = np.random.RandomState(13).rand(500, 3).astype(np.float32)
    som = SparkSom(4, 4, 3, random_seed=1, batch_rows=200)
    kernel = som._distance
    seen, calls = [], []

    def probe(x, w, w_sq=None):
        seen.append(get())
        return kernel(x, w, w_sq)

    def failing(x, w, w_sq=None):
        calls.append(len(x))
        if len(calls) == 6:   # a chunk of the second block
            raise RuntimeError("kernel failed")
        return kernel(x, w, w_sq)

    probe.can_cache = failing.can_cache = kernel.can_cache
    original = get()
    set_(3)   # a count the pinning cannot restore by accident
    try:
        som._distance = probe
        som.train(X, 2)
        assert set(seen) == {1}
        assert get() == 3
        som._distance = failing
        with pytest.raises(RuntimeError, match="kernel failed"):
            som.train(X, 2)
        assert get() == 3
    finally:
        set_(original)
    fresh = SparkSom(4, 4, 3, random_seed=1, batch_rows=200)
    fresh.train(X, 2)
    np.testing.assert_array_equal(
        fresh.get_weights(),
        _serial_fit(SparkSom(4, 4, 3, random_seed=1, batch_rows=200), X, 2))


def test_concurrent_callers_get_serial_indices(monkeypatch):
    """Eight Python threads calling bmu_indices at once — their pinned
    sections queue on one lock and share one pool — each get the
    one-thread result, and the BLAS thread counts are back afterwards."""
    monkeypatch.setattr(training, "BMU_CHUNK_ROWS", 100)
    kernel = resolve_distance("euclidean")
    rng = np.random.RandomState(14)
    W = rng.rand(30, 5).astype(np.float32)
    w_sq = codebook_sq_norms(W)
    blocks = [rng.rand(400, 5).astype(np.float32) for _ in range(8)] * 4
    monkeypatch.setattr(training, "driver_threads", lambda: 1)
    want = [training.bmu_indices(kernel, X, W, w_sq) for X in blocks]
    monkeypatch.setattr(training, "driver_threads", lambda: 4)
    before = [get() for get, _ in training._openblas_threads()]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as callers:
            got = list(callers.map(
                lambda X: training.bmu_indices(kernel, X, W, w_sq),
                blocks, timeout=120))
    finally:
        sys.setswitchinterval(interval)
    for idx, ref in zip(got, want):
        np.testing.assert_array_equal(idx, ref)
    assert [get() for get, _ in training._openblas_threads()] == before


@pytest.mark.skipif(not hasattr(os, "fork"), reason="no os.fork")
def test_forked_child_gets_its_own_pool(monkeypatch):
    """A child forked after the pool exists inherits the pool object but
    not its threads: it must build its own instead of queueing work no
    thread will ever run."""
    monkeypatch.setattr(training, "driver_threads", lambda: 4)
    monkeypatch.setattr(training, "BMU_CHUNK_ROWS", 100)
    kernel = resolve_distance("euclidean")
    rng = np.random.RandomState(15)
    X = rng.rand(1000, 5).astype(np.float32)
    W = rng.rand(30, 5).astype(np.float32)
    w_sq = codebook_sq_norms(W)
    want = training.bmu_indices(kernel, X, W, w_sq)
    r, w = os.pipe()
    pid = os.fork()
    if pid == 0:
        try:
            got = training.bmu_indices(kernel, X, W, w_sq)
            os.write(w, b"1" if np.array_equal(got, want) else b"0")
        finally:
            os._exit(0)
    os.close(w)
    deadline = time.monotonic() + 30
    while not os.waitpid(pid, os.WNOHANG)[0]:
        if time.monotonic() > deadline:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
            pytest.fail("the forked child hung in bmu_indices")
        time.sleep(0.05)
    assert os.read(r, 1) == b"1"
    os.close(r)

"""Clustering vs invariants + the full TICA->KMeans->MSM composition
(mirrors /root/reference/tests/base/test_sklearn_compat.py:19-30)."""

import numpy as np
import pytest

from deeptime_spark.clustering import BoxDiscretization, KMeans, MiniBatchKMeans, RegularSpace
from deeptime_spark.clustering.cluster_model import ClusterModel
from deeptime_spark.data import trajectory_from_arrays
from deeptime_spark.markov import MaximumLikelihoodMSM


@pytest.fixture(scope="module")
def blobs(rng):
    # 3 well-separated gaussian blobs
    centers = np.array([[0.0, 0.0], [10.0, 0.0], [0.0, 10.0]])
    X = np.concatenate([rng.normal(size=(400, 2)) * 0.5 + c for c in centers])
    rng.shuffle(X)
    return X, centers


@pytest.fixture(scope="module")
def blobs_df(spark, blobs):
    return trajectory_from_arrays(spark, [blobs[0]])


def _assert_centers_match(got, want, atol):
    # permutation-invariant: every true center has a found center nearby
    # and vice versa (sorting coordinates is noise-sensitive on ties)
    for w in want:
        assert np.linalg.norm(got - w, axis=1).min() < atol
    for g in got:
        assert np.linalg.norm(want - g, axis=1).min() < atol


def test_kmeans_recovers_blob_centers(spark, blobs, blobs_df):
    _, true_centers = blobs
    model = KMeans(n_clusters=3, fixed_seed=17).fit(blobs_df).fetch_model()
    _assert_centers_match(model.cluster_centers, true_centers, atol=0.3)
    assert model.inertia > 0


def _job_ids(spark, group, fn):
    """Run fn() under a job group; return (result, Spark job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_kmeans_mllib_path_recovers_blob_centers(spark, blobs, blobs_df, force_distributed):
    """Above the driver bound (forced here) KMeans runs MLlib and still
    recovers the blobs; converged comes from MLlib's iteration count."""
    _, true_centers = blobs
    with force_distributed():
        model, jobs = _job_ids(
            spark, "kmeans-mllib", lambda: KMeans(n_clusters=3, fixed_seed=17).fit(blobs_df).fetch_model()
        )
        one = KMeans(n_clusters=3, max_iter=1, fixed_seed=17).fit(blobs_df).fetch_model()
    assert len(jobs) > 2  # k-means|| and Lloyd rounds, not the driver probe
    _assert_centers_match(model.cluster_centers, true_centers, atol=0.3)
    assert model.inertia > 0
    assert model.converged
    assert not one.converged


def test_kmeans_driver_regime_is_layout_invariant(spark, blobs):
    X, _ = blobs
    rows = [(i, x.tolist()) for i, x in enumerate(X)]
    df1 = spark.createDataFrame(rows, "i long, x array<double>").repartition(1)
    df7 = spark.createDataFrame(rows[::-1], "i long, x array<double>").repartition(7)
    m1 = KMeans(n_clusters=3, fixed_seed=5).fit(df1).fetch_model()
    m7 = KMeans(n_clusters=3, fixed_seed=5).fit(df7).fetch_model()
    assert np.array_equal(m1.cluster_centers, m7.cluster_centers)
    assert m1.inertia == m7.inertia
    assert m1.converged


def test_kmeans_driver_regime_launches_at_most_two_jobs(spark, blobs):
    X, true_centers = blobs
    # four partitions without an exchange, whose AQE stage would add jobs
    rdd = spark.sparkContext.parallelize([(x.tolist(),) for x in X], 4)
    df = spark.createDataFrame(rdd, "x array<double>")
    model, jobs = _job_ids(
        spark, "kmeans-driver", lambda: KMeans(n_clusters=3, fixed_seed=17).fit(df).fetch_model()
    )
    assert 1 <= len(jobs) <= 2
    _assert_centers_match(model.cluster_centers, true_centers, atol=0.3)


def test_kmeans_initial_centers(spark, blobs, blobs_df, force_distributed):
    """initial_centers replaces kmeans++ in the driver regime: one Lloyd
    step from them is the mean of each Voronoi cell. MLlib cannot take
    them, so the forced MLlib path raises."""
    X, _ = blobs
    c0 = np.array([[1.0, 1.0], [9.0, 1.0], [1.0, 9.0]])
    model = KMeans(n_clusters=3, max_iter=1, initial_centers=c0).fit(blobs_df).fetch_model()
    a = np.argmin(((X[:, None, :] - c0[None]) ** 2).sum(-1), axis=1)
    want = np.array([X[a == j].mean(axis=0) for j in range(3)])
    np.testing.assert_allclose(model.cluster_centers, want, rtol=1e-12, atol=1e-12)
    assert not model.converged  # one step from c0 moves every center
    with pytest.raises(ValueError, match="initial_centers has shape"):
        KMeans(n_clusters=3, initial_centers=c0[:2]).fit(blobs_df)
    with force_distributed(), pytest.raises(ValueError, match="MLlib"):
        KMeans(n_clusters=3, initial_centers=c0).fit(blobs_df)


def test_cluster_model_assignment_is_nearest(spark, blobs_df):
    centers = np.array([[0.0, 0.0], [10.0, 0.0], [0.0, 10.0]])
    model = ClusterModel(centers)
    out = model.transform(blobs_df).collect()
    for r in out[:100]:
        x = np.array(r["x"])
        d = np.linalg.norm(centers - x, axis=1)
        assert r["state"] == int(np.argmin(d))


def test_onehot_transform(spark, blobs_df):
    model = ClusterModel(np.array([[0.0, 0.0], [10.0, 0.0]]))
    row = model.transform_onehot(blobs_df).select("onehot").first()
    assert sum(row["onehot"]) == 1.0


def test_box_discretization_grid(spark):
    X = np.array([[0.1, 0.1], [0.9, 0.1], [0.1, 0.9], [0.9, 0.9], [0.5, 0.5]])
    df = trajectory_from_arrays(spark, [X])
    model = BoxDiscretization(dim=2, n_boxes=2, v0=[0, 0], v1=[1, 1]).fit(df).fetch_model()
    rows = {tuple(r["x"]): r["state"] for r in model.transform(df).collect()}
    # row-major ravel: state = ix * 2 + iy
    assert rows[(0.1, 0.1)] == 0
    assert rows[(0.1, 0.9)] == 1
    assert rows[(0.9, 0.1)] == 2
    assert rows[(0.9, 0.9)] == 3
    assert model.n_clusters == 4
    # centers are bin midpoints
    np.testing.assert_allclose(model.cluster_centers[0], [0.25, 0.25])


def test_box_estimates_bounds_from_data(spark, blobs_df):
    model = BoxDiscretization(dim=2, n_boxes=5).fit(blobs_df).fetch_model()
    states = model.transform(blobs_df).select("state").distinct().count()
    assert 3 <= states <= 25


def test_regspace_packing_invariants(spark, blobs_df):
    dmin = 3.0
    model = RegularSpace(dmin=dmin, max_centers=100).fit(blobs_df).fetch_model()
    C = model.cluster_centers
    # centers pairwise > dmin apart
    for i in range(len(C)):
        for j in range(i + 1, len(C)):
            assert np.linalg.norm(C[i] - C[j]) > dmin
    # every point within 2*dmin of some center (two-level leader bound)
    assigned = model.transform(blobs_df).collect()
    for r in assigned[:200]:
        x = np.array(r["x"])
        assert np.linalg.norm(C[r["state"]] - x) <= 2 * dmin


def test_minibatch_kmeans_close_to_full(spark, blobs, blobs_df):
    _, true_centers = blobs
    model = MiniBatchKMeans(n_clusters=3, batch_fraction=0.5, max_iter=5, fixed_seed=3).fit(blobs_df).fetch_model()
    _assert_centers_match(model.cluster_centers, true_centers, atol=1.0)


def test_full_pipeline_tica_kmeans_msm(spark, rng):
    """Composition test: 2-state jump process in 2d -> TICA -> KMeans(2) ->
    MSM recovers the metastable structure (sklearn-compat pipeline shape)."""
    from deeptime_spark.decomposition import TICA

    T = 20000
    states = np.zeros(T, dtype=int)
    for t in range(1, T):
        states[t] = states[t - 1] if rng.random() > 0.02 else 1 - states[t - 1]
    X = np.array([[-2.0, 0.0], [2.0, 0.0]])[states] + rng.normal(size=(T, 2)) * 0.3
    df = trajectory_from_arrays(spark, [X])

    tica_model = TICA(lagtime=5, dim=1).fit(df).fetch_model()
    proj = tica_model.transform(df, out_col="ic").select("traj_id", "t", "ic")
    km = KMeans(n_clusters=2, fixed_seed=11, x_col="ic").fit(proj).fetch_model()
    dtraj = km.transform(proj, x_col="ic")
    msm = MaximumLikelihoodMSM(reversible=True, lagtime=5).fit(dtraj).fetch_model()
    # slowest timescale of a 2-state flip process with p=0.02:
    # lambda_2 = 1 - 2p = 0.96 per step -> t2 = -1/ln(0.96) ~ 24.5 steps
    t2 = msm.timescales(1)[0]
    assert 15 < t2 < 40


def test_metric_registry_assignment(spark):
    from deeptime_spark.clustering.cluster_model import ClusterModel
    from deeptime_spark.clustering.metrics import metrics, minkowski

    rng = np.random.default_rng(8)
    centers = rng.normal(size=(4, 3)) + 1.0
    X = rng.normal(size=(40, 3))
    df = spark.createDataFrame([(i, x.tolist()) for i, x in enumerate(X)], ["i", "x"])

    def expected(metric_fn):
        return np.argmin(metric_fn(X, centers), axis=1)

    cases = {
        "euclidean": lambda A, C: np.linalg.norm(A[:, None] - C[None], axis=-1),
        "manhattan": lambda A, C: np.abs(A[:, None] - C[None]).sum(-1),
        "chebyshev": lambda A, C: np.abs(A[:, None] - C[None]).max(-1),
        "cosine": lambda A, C: 1.0
        - (A @ C.T)
        / (np.linalg.norm(A, axis=1, keepdims=True) * np.linalg.norm(C, axis=1)[None]),
    }
    for metric, fn in cases.items():
        got = {
            r["i"]: r["state"]
            for r in ClusterModel(centers, metric=metric).transform(df).collect()
        }
        np.testing.assert_array_equal(
            [got[i] for i in range(len(X))], expected(fn), err_msg=metric
        )
    # user-registered plugin metric
    metrics.register("mink3", minkowski(3.0))
    got = {
        r["i"]: r["state"] for r in ClusterModel(centers, metric="mink3").transform(df).collect()
    }
    exp = np.argmin(np.power(np.abs(X[:, None] - centers[None]) ** 3, 1).sum(-1), axis=1)
    np.testing.assert_array_equal([got[i] for i in range(len(X))], exp)
    with pytest.raises(ValueError, match="unsupported metric"):
        ClusterModel(centers, metric="nope")


def test_regspace_exact_matches_sequential_reference(spark, rng):
    from deeptime_spark.clustering.regspace import RegularSpace, _leader_scan

    X = rng.normal(size=(400, 2)) * 3
    df = trajectory_from_arrays(spark, [X])
    model = RegularSpace(dmin=1.5, max_centers=50, exact=True).fit(df).fetch_model()
    # reference semantics: sequential leader scan over frames in order
    expected: list = []
    _leader_scan(X, 1.5, 50, expected)
    np.testing.assert_allclose(model.cluster_centers, np.asarray(expected))


def test_deterministic_kmeans_layout_invariant(spark):
    """Same fit — bit-exact — regardless of partition count/row order, and
    equal to the single-machine numpy replica (the oracle contract)."""
    from deeptime_spark.clustering.kmeans import (
        DeterministicKMeans,
        deterministic_kmeans_numpy,
    )

    rng = np.random.default_rng(1234)  # local: session rng state varies with test order
    X = np.vstack(
        [rng.normal(c, 0.4, size=(120, 5)) for c in ((0, 0, 0, 0, 0), (4, 4, 4, 4, 4), (-4, 4, 0, -4, 4))]
    )
    # interleave blobs in id order so the TakeOrdered init sample spans
    # all three blobs (ids are the sample order)
    X = X[np.argsort(np.tile(np.arange(120), 3), kind="stable")]
    ids = np.arange(len(X))
    rows = [(int(i), X[i].tolist()) for i in ids]
    df1 = spark.createDataFrame(rows, "id long, x array<double>").repartition(1)
    df7 = spark.createDataFrame(list(reversed(rows)), "id long, x array<double>").repartition(7)

    est = dict(n_clusters=3, seed=7, max_iter=12, sample_size=64, order_col="id")
    m1 = DeterministicKMeans(**est).fit(df1).fetch_model()
    m7 = DeterministicKMeans(**est).fit(df7).fetch_model()
    # bit-exact across layouts
    assert np.array_equal(m1.cluster_centers, m7.cluster_centers)

    sample = X[np.argsort(ids)][:64]
    centers_np, _, _ = deterministic_kmeans_numpy(sample, X, 3, seed=7, max_iter=12)
    assert np.array_equal(m1.cluster_centers, centers_np)

    # and it actually clusters: one center near each blob
    got = np.sort(m1.cluster_centers.mean(axis=1))
    np.testing.assert_allclose(got, np.sort([0.0, 4.0, 0.0]), atol=0.5)


def test_deterministic_kmeans_driver_dispatch_bit_equal(spark):
    """When the init sample already contains the whole relation
    (len(sample) < sample_size) the fit runs driver-side; forcing the
    distributed path on the SAME full-relation sample (sample_size == n
    exactly) must give bit-identical centers — the dispatch is a pure
    execution-strategy choice."""
    from deeptime_spark.clustering.kmeans import DeterministicKMeans

    rng = np.random.default_rng(55)
    X = rng.normal(size=(90, 3))
    rows = [(int(i), X[i].tolist()) for i in range(len(X))]
    df = spark.createDataFrame(rows, "id long, x array<double>").repartition(4)

    est = dict(n_clusters=4, seed=3, max_iter=10, order_col="id")
    # sample_size == n: limit() returns exactly sample_size rows, so the
    # distributed Lloyd loop runs (on a sample equal to the full data)
    m_dist = DeterministicKMeans(sample_size=90, **est).fit(df).fetch_model()
    # sample_size > n: the driver dispatch fires on the identical sample
    m_loc = DeterministicKMeans(sample_size=91, **est).fit(df).fetch_model()
    assert np.array_equal(m_dist.cluster_centers, m_loc.cluster_centers)


def test_kmeanspp_init_matches_quadratic_reference():
    """The running-minimum kmeans++ draws the same centers as the
    recompute-every-distance formulation it replaced."""
    from deeptime_spark.clustering.kmeans import kmeanspp_init

    def quadratic(X, k, rng):
        centers = [X[int(rng.integers(len(X)))]]
        for _ in range(1, k):
            d2 = ((X[:, None, :] - np.asarray(centers)[None]) ** 2).sum(-1).min(axis=1)
            r = float(rng.random()) * float(d2.sum())
            idx = min(int(np.searchsorted(np.cumsum(d2), r, side="right")), len(X) - 1)
            centers.append(X[idx])
        return np.asarray(centers)

    X = np.random.default_rng(21).normal(size=(500, 3))
    got = kmeanspp_init(X, 12, np.random.default_rng(4))
    np.testing.assert_array_equal(got, quadratic(X, 12, np.random.default_rng(4)))


def test_deterministic_kmeans_env_forces_distributed_loop(spark, monkeypatch, force_distributed):
    """DEEPTIME_FORCE_DISTRIBUTED=1 (the forced-distributed gate's switch)
    skips the driver replay even when the sample is the whole relation,
    with bit-identical centers."""
    from deeptime_spark.clustering import kmeans as km_mod

    rng = np.random.default_rng(56)
    X = rng.normal(size=(60, 3))
    rows = [(int(i), X[i].tolist()) for i in range(len(X))]
    df = spark.createDataFrame(rows, "id long, x array<double>").repartition(3)
    calls = []
    replay = km_mod.deterministic_kmeans_numpy

    def spy(*args, **kwargs):
        calls.append(1)
        return replay(*args, **kwargs)

    monkeypatch.setattr(km_mod, "deterministic_kmeans_numpy", spy)
    est = dict(n_clusters=3, seed=9, max_iter=8, sample_size=100, order_col="id")
    m_loc = km_mod.DeterministicKMeans(**est).fit(df).fetch_model()
    assert calls == [1]
    with force_distributed():
        m_dist = km_mod.DeterministicKMeans(**est).fit(df).fetch_model()
    assert calls == [1]
    assert np.array_equal(m_loc.cluster_centers, m_dist.cluster_centers)


def test_deterministic_kmeans_reports_convergence(spark, force_distributed):
    """converged is True only when the center shift fell below tolerance:
    one Lloyd step from kmeans++ seeds on separated blobs moves every
    center, so max_iter=1 is not converged — equally on the driver
    replay, the forced distributed loop and the numpy replica."""
    from deeptime_spark.clustering.kmeans import (
        DeterministicKMeans,
        deterministic_kmeans_numpy,
    )

    rng = np.random.default_rng(77)
    X = np.vstack([rng.normal(c, 0.3, size=(20, 2)) for c in ((0, 0), (6, 0), (0, 6))])
    rows = [(int(i), X[i].tolist()) for i in range(len(X))]
    df = spark.createDataFrame(rows, "id long, x array<double>").repartition(3)
    for max_iter, want in ((1, False), (50, True)):
        est = dict(n_clusters=3, seed=5, max_iter=max_iter, sample_size=100, order_col="id")
        replay = DeterministicKMeans(**est).fit(df).fetch_model()
        with force_distributed():
            dist = DeterministicKMeans(**est).fit(df).fetch_model()
        assert replay.converged is want and dist.converged is want
        assert np.array_equal(replay.cluster_centers, dist.cluster_centers)
        _, _, converged = deterministic_kmeans_numpy(X, X, 3, seed=5, max_iter=max_iter)
        assert converged is want


def test_deterministic_kmeans_assignment_layout_invariant(spark):
    """transform() uses the batch-shape-invariant kernel: assignments match
    the numpy replica row-for-row."""
    from deeptime_spark.clustering.kmeans import DeterministicKMeans
    from deeptime_spark.clustering.metrics import _euclidean_batch_invariant

    rng = np.random.default_rng(987)
    X = rng.normal(size=(300, 4))
    rows = [(int(i), X[i].tolist()) for i in range(len(X))]
    df = spark.createDataFrame(rows, "id long, x array<double>").repartition(5)
    model = DeterministicKMeans(n_clusters=4, seed=1, max_iter=6, sample_size=128, order_col="id").fit(df).fetch_model()
    got = {
        r["id"]: r["state"]
        for r in model.transform(df).select("id", "state").collect()
    }
    want = np.argmin(_euclidean_batch_invariant(X, model.cluster_centers), axis=1)
    assert [got[i] for i in range(len(X))] == list(want)


def test_simplified_silhouette_matches_replica_and_sklearnish(spark, rng):
    """Per-point simplified silhouette equals the numpy replica, and
    well-separated blobs score near 1 while a point midway between two
    centroids scores near 0."""
    import numpy as np

    from deeptime_spark.clustering.metrics import (
        _euclidean_batch_invariant,
        simplified_silhouette_df,
    )

    centers = np.array([[0.0, 0.0], [10.0, 10.0], [20.0, 0.0]])
    X = np.vstack(
        [c + rng.normal(0, 0.3, size=(30, 2)) for c in centers]
        + [[[5.0, 5.0]]]  # midway between the first two centroids
    )
    df = spark.createDataFrame(
        [(i, x.tolist()) for i, x in enumerate(X)], "vec_id long, x array<double>"
    )
    got = {
        r["id"]: (r["cluster"], r["s_ppm"])
        for r in simplified_silhouette_df(df, centers).collect()
    }
    D = _euclidean_batch_invariant(X, centers)
    own = np.argmin(D, axis=1)
    a = D[np.arange(len(X)), own]
    Dm = D.copy()
    Dm[np.arange(len(X)), own] = np.inf
    b = Dm.min(axis=1)
    s = (b - a) / np.maximum(a, b)
    for i in range(len(X)):
        assert got[i] == (int(own[i]), int(np.round(s[i] * 1e6)))
    blob_scores = [got[i][1] for i in range(90)]
    assert min(blob_scores) > 800_000  # tight blobs: s near 1
    assert abs(got[90][1]) < 20_000  # boundary point: s near 0

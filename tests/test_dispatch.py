"""The one driver-or-distributed switch (deeptime_spark.dispatch): the
comparison, the force switch, and a logged decision from every gated
operator on both paths."""

import logging

import numpy as np

from deeptime_spark.dispatch import FORCE_ENV, forced, on_driver

GATED = (
    "triangle_counts",
    "k_core",
    "bfs_distances",
    "label_propagation",
    "connected_components",
    "VAMPNet",
    "TAE",
    "TVAE",
    "KMeans",
    "DeterministicKMeans",
)


def test_on_driver_compares_estimate_with_bound(monkeypatch):
    monkeypatch.delenv(FORCE_ENV, raising=False)
    assert not forced()
    assert on_driver("t", 10, 10)
    assert not on_driver("t", 11, 10)
    # no driver-sized input: distributed
    assert not on_driver("t", None, 10)


def test_force_switch_overrides_the_bound(force_distributed):
    with force_distributed():
        assert forced()
        assert not on_driver("t", 0, 10)
    assert not forced()


def test_kmeans_logs_the_path_it_takes(spark, caplog, monkeypatch):
    """Fewer rows than clusters fit the bound but not the driver fit:
    KMeans logs "distributed" and leaves the driver path."""
    from deeptime_spark.clustering.kmeans import KMeans

    monkeypatch.delenv(FORCE_ENV, raising=False)
    two = spark.createDataFrame([([0.0, 1.0],), ([2.0, 3.0],)], "x array<double>")
    with caplog.at_level(logging.INFO, logger="deeptime_spark.dispatch"):
        assert KMeans(n_clusters=3)._driver_rows(two) is None
        assert KMeans(n_clusters=2)._driver_rows(two) is not None
    assert [r.args[3] for r in caplog.records
                        if r.name == "deeptime_spark.dispatch" and r.args[0] == "KMeans"] == [
        "distributed", "driver"
    ]


def _run_every_gated_operator(spark):
    from deeptime_spark.clustering.kmeans import DeterministicKMeans, KMeans
    from deeptime_spark.decomposition.deep import TAE, TVAE, VAMPNet
    from deeptime_spark.operators import graph as G
    from deeptime_spark.operators.dedup import connected_components

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long")
    G.triangle_counts(e).collect()
    G.k_core(e, k=2).collect()
    G.bfs_distances(e, sources=[0]).collect()
    G.label_propagation(e, n_iter=2).collect()
    connected_components(e, "src", "dst").collect()

    rng = np.random.default_rng(3)
    rows = [(tid, t, float(x), float(x * x)) for tid in range(2)
            for t, x in enumerate(rng.normal(size=20))]
    traj = spark.createDataFrame(rows, "traj_id long, t long, x0 double, x1 double")
    x_cols = ["x0", "x1"]
    VAMPNet(lagtime=1, layers=[2, 4, 2], n_epochs=1).fit(traj, x_cols=x_cols)
    TAE(lagtime=1, layers=[2, 4, 1, 4, 2], bottleneck_layer=2, n_epochs=1).fit(traj, x_cols=x_cols)
    TVAE(lagtime=1, hidden=4, bottleneck=1, n_epochs=1).fit(traj, x_cols=x_cols)

    pts = [(i, [float(i % 2) * 5.0 + 0.1 * i, 0.0]) for i in range(12)]
    vecs = spark.createDataFrame(pts, "id long, x array<double>")
    KMeans(n_clusters=2, max_iter=3).fit(vecs)
    DeterministicKMeans(n_clusters=2, max_iter=3, sample_size=64, order_col="id").fit(vecs)


def _decisions(caplog):
    return {
        r.args[0]: r.args[3] for r in caplog.records if r.name == "deeptime_spark.dispatch"
    }


def test_every_gated_operator_logs_its_decision(spark, caplog, force_distributed, monkeypatch):
    """Small inputs: every gated operator logs (name, estimate, bound,
    "driver"); under the switch every one logs "distributed" — a switch
    that does not reach an operator fails here."""
    monkeypatch.delenv(FORCE_ENV, raising=False)
    with caplog.at_level(logging.INFO, logger="deeptime_spark.dispatch"):
        _run_every_gated_operator(spark)
    assert _decisions(caplog) == dict.fromkeys(GATED, "driver")
    caplog.clear()
    with force_distributed(), caplog.at_level(logging.INFO, logger="deeptime_spark.dispatch"):
        _run_every_gated_operator(spark)
    assert _decisions(caplog) == dict.fromkeys(GATED, "distributed")

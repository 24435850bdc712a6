"""The benchmark's workloads: the ops one pass runs and how each op's output
is checked.

A workload is a fixed list of ops; a pass runs every op once. Query ops call
an entry of ``__spark_entry__.queries()`` on the harness fixture tables kept
under ``fixtures/`` and are checked against its DuckDB twin in
``oracle_sql()``. The ``markov_pipeline`` ops are the stages of the
estimator chain, called through the package's public API and checked against
numpy recomputed from the generated frames.

Each op names the layer (module) it calls into, or splits its own time
between layers; the traced run sums time per layer under those names.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Optional
from unittest import mock

import numpy as np

import datagen

LAG = 10
N_CLUSTERS = 50
KMEANS_MAX_ITER = 6
TICA_DIM = 2


@dataclass(frozen=True)
class Op:
    name: str
    # the layer the op's whole time counts to; None when the op splits its
    # time itself (state["layers"], see _timed)
    layer: Optional[str]
    # call(state) runs the op: a query op returns its lazy DataFrame, an
    # estimator-chain op runs eagerly and returns a dict of arrays to check
    call: Callable[[dict], Any]


@dataclass
class Workload:
    name: str
    ops: list[Op]
    # permute the op order per pass (False where ops feed each other)
    shuffle: bool
    # write the inputs under a scratch directory; returns the directory
    # the inputs are read from
    generate: Callable[[str], str]
    # register the inputs with a session; returns the ops' shared state
    register: Callable[[Any, str], dict]
    # check(op_name, result, state) -> list of problems; built once per run
    # from the inputs' directory
    make_checker: Callable[[str], Callable[[str, Any, dict], list[str]]]
    sizes: dict = field(default_factory=dict)


# --------------------------------------------------------------- queries

# (query, layer) pairs of the operator_queries workload
OPERATOR_QUERIES = [
    # a short join query: planning, job launch and the driver gap dominate
    ("q3_top_orders", "query"),
    # many jobs per op: iterative peeling rounds, streaming micro-batches
    ("event_kcore", "graph"),
    ("streaming_dedup_replay", "streaming"),
    # a gzip JSONL corpus sink partitioned by source, read back
    ("jsonl_roundtrip", "sources"),
    # text hashing, set-similarity join, sparse retrieval: executor CPU and
    # shuffle
    ("doc_setsim_pairs", "dedup"),
    ("doc_bm25_search", "retrieval"),
]
OPERATOR_TABLES = ("customer", "orders", "lineitem", "events", "documents")
# byte copies of the harness fixture tables these queries read (TESTDATA.md):
# the scale the correctness gate runs at, and the smoke scale
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
OPERATOR_SCALE = "sf0.01"
SMOKE_SCALE = "sf0.001"


def _oracle_frames(names: list[str], data_dir: str) -> dict:
    """Expected output of each named query: its ``oracle_sql()`` twin run
    on DuckDB over the same tables."""
    import duckdb

    import __spark_entry__ as entry
    from deeptime_spark import oracle_ref

    os.environ[oracle_ref.SF_ENV] = data_dir
    # oracle_sql() replays every estimator oracle in the registry (tens of
    # seconds); build its SQL-literal part alone, then only the replays
    # these queries need. A replay overrides the literal SQL, as in
    # oracle_sql().
    with mock.patch.dict(oracle_ref._BUILDERS, {}, clear=True):
        sql = entry.oracle_sql()
    for name in names:
        if name in oracle_ref._BUILDERS:
            sql[name] = oracle_ref._BUILDERS[name]()
    con = duckdb.connect()
    try:
        for table in OPERATOR_TABLES:
            path = os.path.join(data_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        return {name: con.execute(sql[name]).df() for name in names}
    finally:
        con.close()


def _number_kind(dtype) -> str:
    return {"i": "int", "u": "int", "f": "float"}.get(dtype.kind, dtype.kind)


def compare_frames(got, want) -> list[str]:
    """Order-insensitive exact comparison (the correctness gate's bar):
    same columns, same row count, the same int or float kind per column
    (the gate hashes an int and an equal float differently), equal values
    after sorting all rows."""
    from verify_local import normalize

    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count {len(got)} != {len(want)}"]
    a, b = normalize(got), normalize(want)
    problems = []
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        kinds = {_number_kind(av.dtype), _number_kind(bv.dtype)}
        if len(kinds) == 2 and kinds & {"int", "float"}:
            problems.append(f"column {c}: dtype {av.dtype} != {bv.dtype}")
            continue
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av, bv = av.astype(float), bv.astype(float)
            same = (av == bv) | (np.isnan(av) & np.isnan(bv))
        else:
            same = av.astype(str) == bv.astype(str)
        if not same.all():
            problems.append(f"column {c}: {int((~same).sum())} values differ")
    return problems


def _operator_workload(smoke: bool) -> Workload:
    import __spark_entry__ as entry
    from deeptime_spark.session import load_tables

    registry = entry.queries()
    scale = SMOKE_SCALE if smoke else OPERATOR_SCALE
    ops = [
        Op(q, layer, lambda state, fn=registry[q]: fn(state["spark"], state["data_dir"]))
        for q, layer in OPERATOR_QUERIES
    ]
    sizes = {"fixtures": scale}

    def generate(scratch_dir):
        # the tables are read in place; the seed only permutes op order
        return os.path.join(FIXTURES, scale)

    def register(spark, data_dir):
        load_tables(spark, data_dir, OPERATOR_TABLES)
        return {"spark": spark, "data_dir": data_dir}

    def make_checker(data_dir):
        want = _oracle_frames([q for q, _ in OPERATOR_QUERIES], data_dir)
        return lambda op, got, state: compare_frames(got, want[op])

    return Workload("operator_queries", ops, True, generate, register, make_checker, sizes)


# --------------------------------------------------------- estimator chain

MARKOV_SIZE = {"n_traj": 100, "n_frames": 1000}
MARKOV_SMOKE = {"n_traj": 8, "n_frames": 500}


def _timed(state: dict, layer: str, fn, *args):
    """Call fn(*args) and add its wall time to the op's per-layer split."""
    t0 = time.perf_counter()
    out = fn(*args)
    state["layers"][layer] = state["layers"].get(layer, 0.0) + time.perf_counter() - t0
    return out


def _op_tica(state):
    """Covariances on Spark (lag windows + moments aggregate), then the
    generalized eigenproblem on the driver."""
    from deeptime_spark.covariance import Covariance
    from deeptime_spark.decomposition import TICA
    from deeptime_spark.sources.readers import read_trajectories_parquet

    state["traj"] = read_trajectories_parquet(state["spark"], state["traj_path"])
    est = Covariance(lagtime=LAG, compute_c00=True, compute_c0t=True, compute_ctt=True, reversible=True)
    cov = _timed(state, "covariance", est.fit_fetch, state["traj"])
    state["tica"] = _timed(state, "decomposition", TICA(lagtime=LAG, dim=TICA_DIM).fit_from_covariances, cov)
    return {"c00": cov.cov_00, "c0t": cov.cov_0t, "ctt": cov.cov_tt, "mean": cov.mean_0,
            "eigenvalues": state["tica"].singular_values}


def _op_kmeans(state):
    """Project every frame, then k-means on a seeded 10% sample (MLlib)."""
    from deeptime_spark.clustering import KMeans

    state["proj"] = state["tica"].transform(state["traj"], out_col="y")
    sample = state["proj"].sample(fraction=0.1, seed=state["seed"])
    est = KMeans(N_CLUSTERS, max_iter=KMEANS_MAX_ITER, fixed_seed=state["seed"], x_col="y")
    state["km"] = _timed(state, "clustering", est.fit_fetch, sample)
    return {"centers": state["km"].cluster_centers}


def _op_msm(state):
    """Assign and count transitions on Spark, then the reversible MLE and
    the analysis on the driver."""
    from deeptime_spark.markov import MaximumLikelihoodMSM, TransitionCountEstimator

    dtraj = state["km"].transform(state["proj"], x_col="y", out_col="state")
    counts = _timed(state, "markov.count", TransitionCountEstimator(lagtime=LAG).fit_fetch, dtraj)
    mle = MaximumLikelihoodMSM(reversible=True)
    msm = _timed(state, "markov.mle", lambda: mle.fit_from_counts(counts).fetch_model())

    def analysis():
        sets = msm.pcca(2).sets()
        return {"timescales": msm.timescales(), "mfpt": msm.mfpt(sets[0], sets[1]),
                "committor": msm.committor_forward(sets[0], sets[1]), "A": sets[0], "B": sets[1]}

    out = _timed(state, "markov.analysis", analysis)
    out.update(count_matrix=counts.count_matrix, T=msm.transition_matrix, pi=msm.stationary_distribution)
    return out


MARKOV_OPS = [Op("tica", None, _op_tica), Op("kmeans", None, _op_kmeans), Op("msm", None, _op_msm)]


def reference_covariances(frames: np.ndarray, lag: int):
    """numpy twin of Covariance(reversible=True, Bessel): pooled mean of
    both legs, symmetrized second moments, denominator n - 1."""
    x = frames[:, :-lag].reshape(-1, frames.shape[2])
    y = frames[:, lag:].reshape(-1, frames.shape[2])
    n = len(x)
    mean = 0.5 * (x.mean(0) + y.mean(0))
    mxx = 0.5 * (x.T @ x + y.T @ y)
    mxy = x.T @ y
    mxy = 0.5 * (mxy + mxy.T)
    c00 = (mxx - n * np.outer(mean, mean)) / (n - 1)
    c0t = (mxy - n * np.outer(mean, mean)) / (n - 1)
    return c00, c0t, mean


def reference_counts(frames: np.ndarray, tica, centers: np.ndarray, lag: int) -> np.ndarray:
    """Sliding-window count matrix of the frames projected and assigned in
    numpy with the fitted TICA model and cluster centers."""
    flat = frames.reshape(-1, frames.shape[2])
    proj = (flat - tica.cov.mean_0) @ tica.U
    d = ((proj[:, None, :] - centers[None, :, :]) ** 2).sum(-1)
    states = d.argmin(1).reshape(frames.shape[0], frames.shape[1])
    n = len(centers)
    C = np.zeros((n, n))
    np.add.at(C, (states[:, :-lag].ravel(), states[:, lag:].ravel()), 1.0)
    return C


def _markov_checker(frames: np.ndarray):
    c00, c0t, mean = reference_covariances(frames, LAG)
    # generalized eigenvalues of (c0t, c00) through a Cholesky whitening
    L = np.linalg.inv(np.linalg.cholesky(c00))
    eig = np.sort(np.linalg.eigvalsh(L @ c0t @ L.T))[::-1][:TICA_DIM]

    def close(a, b, rtol=1e-8, atol=1e-10):
        return np.allclose(a, b, rtol=rtol, atol=atol)

    def check(op: str, got, state: dict) -> list[str]:
        p = []
        if op == "tica":
            if not (close(got["c00"], c00) and close(got["c0t"], c0t) and close(got["ctt"], c00)):
                p.append("covariances differ from numpy")
            if not close(got["mean"], mean):
                p.append("mean differs from numpy")
            if not close(got["eigenvalues"], eig, rtol=1e-6):
                p.append(f"TICA eigenvalues {got['eigenvalues']} != numpy {eig}")
        elif op == "kmeans":
            if got["centers"].shape != (N_CLUSTERS, TICA_DIM) or not np.all(np.isfinite(got["centers"])):
                p.append(f"bad cluster centers, shape {got['centers'].shape}")
        elif op == "msm":
            C = reference_counts(frames, state["tica"], state["km"].cluster_centers, LAG)
            got_c = np.zeros_like(C)
            m = got["count_matrix"]
            got_c[: m.shape[0], : m.shape[1]] = m
            if not np.array_equal(got_c, C):
                p.append(f"count matrix differs from numpy in {int((got_c != C).sum())} entries")
            T, pi, q = got["T"], got["pi"], got["committor"]
            if not close(T.sum(1), 1.0):
                p.append("T is not row-stochastic")
            if not close(pi @ T, pi, atol=1e-9):
                p.append("pi is not stationary")
            if not close(pi[:, None] * T, (pi[:, None] * T).T, atol=1e-9):
                p.append("detailed balance violated")
            if not (np.all(np.isfinite(got["timescales"])) and np.all(got["timescales"] > 0)):
                p.append("timescales not positive and finite")
            if not (np.isfinite(got["mfpt"]) and got["mfpt"] > 0):
                p.append("mfpt not positive")
            if not (np.all(q[got["A"]] == 0) and np.all(q[got["B"]] == 1) and np.all((q >= 0) & (q <= 1))):
                p.append("committor out of [0, 1] or wrong on A/B")
        return p

    return check


def _markov_workload(smoke: bool, seed: int) -> Workload:
    size = MARKOV_SMOKE if smoke else MARKOV_SIZE
    held = {}

    def generate(scratch_dir):
        held["frames"] = datagen.make_trajectories(seed, size["n_traj"], size["n_frames"])
        datagen.write_trajectories(os.path.join(scratch_dir, "trajectories.parquet"), held["frames"])
        return scratch_dir

    def register(spark, data_dir):
        from deeptime_spark.sources.readers import read_trajectories_parquet

        path = os.path.join(data_dir, "trajectories.parquet")
        read_trajectories_parquet(spark, path).createOrReplaceTempView("trajectories")
        return {"spark": spark, "traj_path": path, "seed": seed}

    def make_checker(data_dir):
        return _markov_checker(held["frames"])

    return Workload("markov_pipeline", MARKOV_OPS, False, generate, register, make_checker, dict(size, lag=LAG))


WORKLOADS = ("markov_pipeline", "operator_queries")


def build(name: str, smoke: bool, seed: int) -> Workload:
    if name == "markov_pipeline":
        return _markov_workload(smoke, seed)
    if name == "operator_queries":
        return _operator_workload(smoke)
    raise ValueError(f"unknown workload {name!r}; choose from {', '.join(WORKLOADS)}")

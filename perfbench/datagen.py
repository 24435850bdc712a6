"""Seeded trajectories for the ``markov_pipeline`` workload.

``make_trajectories`` draws continuous trajectories from ``--seed``: dim 0
is an overdamped Langevin particle in the double well ``V(x) = (x^2 - 1)^2``,
the other dims are Ornstein-Uhlenbeck processes. The same seed gives the
same frames. ``write_trajectories`` stores them in the layout
``read_trajectories_parquet`` reads.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def make_trajectories(seed: int, n_traj: int, n_frames: int, dim: int = 4) -> np.ndarray:
    """(n_traj, n_frames, dim) float64 frames, 5 Euler-Maruyama steps of
    h = 0.01 per frame. The double well's barrier (height 1 at beta = 3)
    is crossed every few hundred frames, which gives the estimator chain
    one slow process to find at lag 10."""
    rng = np.random.default_rng([seed, 100])
    h, steps, beta = 0.01, 5, 3.0
    theta = np.array([1.0, 2.0, 4.0, 8.0][: dim - 1])
    x = np.empty((n_frames, n_traj, dim))
    cur = np.zeros((n_traj, dim))
    cur[:, 0] = rng.choice([-1.0, 1.0], n_traj)
    noise_dw = np.sqrt(2.0 * h / beta)
    noise_ou = np.sqrt(2.0 * h)
    for t in range(n_frames):
        for _ in range(steps):
            xi = rng.standard_normal((n_traj, dim))
            w = cur[:, 0]
            cur[:, 0] = w + h * (4.0 * w - 4.0 * w**3) + noise_dw * xi[:, 0]
            cur[:, 1:] = cur[:, 1:] - h * theta * cur[:, 1:] + noise_ou * xi[:, 1:]
        x[t] = cur
    return np.ascontiguousarray(x.transpose(1, 0, 2))


def write_trajectories(path: str, frames: np.ndarray) -> None:
    """Trajectory schema (traj_id long, t long, x array<double>) as one
    parquet file — the input ``read_trajectories_parquet`` expects."""
    n_traj, n_frames, dim = frames.shape
    flat = pa.array(frames.reshape(-1), pa.float64())
    x = pa.FixedSizeListArray.from_arrays(flat, dim).cast(pa.list_(pa.float64()))
    table = pa.table(
        {
            "traj_id": pa.array(np.repeat(np.arange(n_traj), n_frames), pa.int64()),
            "t": pa.array(np.tile(np.arange(n_frames), n_traj), pa.int64()),
            "x": x,
        }
    )
    pq.write_table(table, path, row_group_size=max(len(table) // 8, 1))

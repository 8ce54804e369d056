"""Seeded synthetic inputs for the benchmark workloads.

Every table is a pure function of ``(seed, stream)``, so the same
``--seed`` gives byte-identical parquet.  Tables are written as several
files of several row groups each: a single-row-group file scans as one
unsplittable partition, which would pin the scan (and everything fused
into it) to one core.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def feature_names(n_features: int) -> list[str]:
    return [f"f{i:02d}" for i in range(n_features)]


def _signal(X: np.ndarray, rng: np.random.Generator) -> np.ndarray:
    # additive, periodic and interaction terms, so depth-6 trees keep
    # finding useful splits for many rounds
    return (2.0 * X[:, 0] + np.sin(3.0 * X[:, 1]) + X[:, 2] * X[:, 3]
            + 0.5 * np.abs(X[:, 4]) + 0.5 * rng.standard_normal(len(X)))


def make_table(kind: str, n_rows: int, n_features: int, seed: int,
               stream: int) -> pa.Table:
    """``kind`` is ``"regression"`` (real label) or ``"classifier"``
    (0/1 label plus a boolean ``is_val`` validation indicator)."""
    rng = np.random.default_rng([seed, stream])
    X = rng.standard_normal((n_rows, n_features))
    z = _signal(X, rng)
    cols = {name: X[:, i] for i, name in enumerate(feature_names(n_features))}
    if kind == "regression":
        cols["label"] = z
    elif kind == "classifier":
        cols["label"] = (z > 0.3).astype(np.float64)
        cols["is_val"] = rng.random(n_rows) < 0.2
    else:
        raise ValueError(f"unknown table kind {kind!r}")
    return pa.table(cols)


def write_parquet(table: pa.Table, path: str, n_files: int,
                  row_group_rows: int) -> None:
    """Write ``table`` as ``n_files`` parquet files under the fresh
    directory ``path``."""
    os.makedirs(path)
    per_file = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * per_file, per_file)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"),
                           row_group_size=row_group_rows)

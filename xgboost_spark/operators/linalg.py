"""Distributed embedding linear algebra: Gram/covariance moments and
PCA projection.

Scale shape: the Gram matrix is accumulated per Arrow batch with one
matmul (X^T X), summed per partition, then reduced with a
(position, value) explode + groupBy — total shuffled volume is
O(partitions x d^2) rows, corpus-size independent.  The driver only
ever sees d + d^2 doubles; the eigendecomposition (d x d, NumPy) is a
driver-sized problem by construction, and the projection matrix is
broadcast back — the same contract MLlib's PCA uses, built here
Spark-first on mapInPandas so the moments stay engine-checkable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gram_moments(df: DataFrame, vec_col: str = "embedding",
                 shift: np.ndarray | None = None
                 ) -> tuple[int, np.ndarray, np.ndarray, np.ndarray]:
    """(n, s, G, shift) where s and G are the sum vector and Gram
    matrix of the SHIFTED rows (v - shift); shift defaults to the
    per-dimension column MINIMUM — a deterministic, order-independent
    statistic (min is invariant to partition ordering, unlike
    df.first(), whose row depends on scan order and could flip a
    rounded covariance value across runs).  Shift-centering keeps the
    one-pass covariance formula
    numerically stable — with raw moments, embeddings whose mean is
    large relative to their variance make G and s s^T/n agree to many
    digits and their difference loses precision catastrophically; the
    covariance itself is shift-invariant, so centering near the data
    costs nothing.

    ONE corpus scan, even with the default shift: each partition
    accumulates its moments against a partition-LOCAL shift (its first
    batch's element-wise min — any in-range shift is cancellation-safe)
    while also tracking the TRUE per-dimension partition minimum; the
    driver then takes the global element-wise min as the final shift
    and TRANSLATES each partition's (s, G) to it with the exact
    closed-form shift identity
        s' = s + n (mu_p - mu),
        G' = G + (mu_p - mu) s^T + s (mu_p - mu)^T
               + n (mu_p - mu)(mu_p - mu)^T
    over the tiny persisted partials frame (one row per partition) —
    no second pass over the corpus, no d-expression aggregate bloating
    Catalyst codegen at embedding dims of 768-4096.  The final shift is
    still the deterministic column minimum; the driver only ever sees
    d + d^2 doubles."""
    import pandas as pd
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)
    first = df.select(vec_col).first()
    if first is None or first[0] is None:
        raise ValueError(f"no non-null '{vec_col}' row to infer dim from")
    d = len(first[0])
    fixed_shift = shift is not None
    if fixed_shift:
        shift = np.asarray(shift, dtype=np.float64)
    src = df.select(F.col(vec_col).cast("array<double>").alias("v"))
    schema = StructType([StructField("n", LongType()),
                         StructField("s", ArrayType(DoubleType())),
                         StructField("g", ArrayType(DoubleType())),
                         StructField("mn", ArrayType(DoubleType())),
                         StructField("mu", ArrayType(DoubleType()))])
    bc = (df.sparkSession.sparkContext.broadcast(shift)
          if fixed_shift else None)

    def partials(batches):
        n = 0
        s = np.zeros(d)
        G = np.zeros((d, d))
        mn = np.full(d, np.inf)
        mu0 = bc.value if bc is not None else None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["v"]])
            mn = np.minimum(mn, V.min(axis=0))
            if mu0 is None:
                mu0 = V.min(axis=0)       # local shift: first batch min
            V = V - mu0[None, :]
            n += len(V)
            s += V.sum(axis=0)
            G += V.T @ V
        if mu0 is None:
            mu0 = np.zeros(d)
        if n == 0:
            mn = np.zeros(d)
        yield pd.DataFrame({"n": [n], "s": [s.tolist()],
                            "g": [G.reshape(-1).tolist()],
                            "mn": [mn.tolist()], "mu": [mu0.tolist()]})

    parts = src.mapInPandas(partials, schema).persist()
    try:
        if not fixed_shift:
            # global shift = element-wise min over per-partition TRUE
            # mins (rows carrying data only) — deterministic regardless
            # of partition order
            mn_rows = parts.filter(F.col("n") > 0).select("mn").collect()
            shift = (np.min(np.asarray([r["mn"] for r in mn_rows],
                                       dtype=np.float64), axis=0)
                     if mn_rows else np.zeros(d))
        bc2 = df.sparkSession.sparkContext.broadcast(shift)

        def translate(batches):
            mu = bc2.value
            for pdf in batches:
                out_s, out_g = [], []
                for _, row in pdf.iterrows():
                    n_p = int(row["n"])
                    s_p = np.asarray(row["s"], dtype=np.float64)
                    G_p = np.asarray(row["g"],
                                     dtype=np.float64).reshape(d, d)
                    dmu = np.asarray(row["mu"], dtype=np.float64) - mu
                    s2 = s_p + n_p * dmu
                    G2 = (G_p + np.outer(dmu, s_p) + np.outer(s_p, dmu)
                          + n_p * np.outer(dmu, dmu))
                    out_s.append(s2.tolist())
                    out_g.append(G2.reshape(-1).tolist())
                pdf = pdf.copy()
                pdf["s"], pdf["g"] = out_s, out_g
                yield pdf[["n", "s", "g"]]

        shifted = parts.mapInPandas(
            translate,
            StructType([StructField("n", LongType()),
                        StructField("s", ArrayType(DoubleType())),
                        StructField("g", ArrayType(DoubleType()))]))
        tot = parts.agg(F.sum("n").alias("n")).first()["n"] or 0
        # Arrow toPandas, not collect(): gsum is d^2 rows (590k at
        # d=768) and per-Row driver objects would inflate the
        # G-matrix-sized payload ~100x
        summed = (shifted.select(F.posexplode("s").alias("i", "x"))
                  .groupBy("i").agg(F.sum("x").alias("x")).toPandas())
        s = np.zeros(d)
        s[summed["i"].to_numpy()] = summed["x"].to_numpy()
        gsum = (shifted.select(F.posexplode("g").alias("i", "x"))
                .groupBy("i").agg(F.sum("x").alias("x")).toPandas())
        G = np.zeros(d * d)
        G[gsum["i"].to_numpy()] = gsum["x"].to_numpy()
    finally:
        parts.unpersist()
    return int(tot), s, G.reshape(d, d), shift


def covariance(df: DataFrame, vec_col: str = "embedding") -> np.ndarray:
    """Sample covariance (d, d), computed from shift-centered moments
    (shift-invariant, numerically stable): (G - s s^T / n) / (n - 1)."""
    n, s, G, _shift = gram_moments(df, vec_col)
    if n < 2:
        raise ValueError("covariance needs at least 2 rows")
    return (G - np.outer(s, s) / n) / (n - 1)


def pca_fit(df: DataFrame, vec_col: str = "embedding", k: int = 8
            ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(components (k, d), explained_variance (k,), mean (d,)) — top-k
    eigenvectors of the sample covariance, eigenvalue-descending, sign
    fixed so each component's largest-|.| coordinate is positive
    (deterministic orientation)."""
    n, s, G, shift = gram_moments(df, vec_col)
    mean = s / n + shift
    cov = (G - np.outer(s, s) / n) / (n - 1)
    w, v = np.linalg.eigh(cov)          # ascending
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order].T               # (k, d)
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return comps, w[order], mean


def pca_project(df: DataFrame, components: np.ndarray, mean: np.ndarray,
                vec_col: str = "embedding",
                out_col: str = "projected") -> DataFrame:
    """Append the k-dim projection (v - mean) @ components^T via a
    broadcast matrix + per-batch matmul — no shuffle, flat analyzer
    cost at any k x d."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType
    C = np.ascontiguousarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64)
    bc = df.sparkSession.sparkContext.broadcast((C, mu))
    schema = StructType(list(df.schema.fields)
                        + [StructField(out_col, ArrayType(DoubleType()))])

    def proj(batches):
        M, m0 = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(**{out_col: pd.Series([], dtype=object)})
                continue
            V = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            P = (V - m0[None, :]) @ M.T
            yield pdf.assign(**{out_col: list(P)})

    return df.mapInPandas(proj, schema)

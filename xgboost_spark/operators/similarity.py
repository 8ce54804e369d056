"""Approximate-nearest-neighbor similarity search over embedding columns.

Baseline: brute-force cosine top-k — broadcast the (small) query set,
one scan of the corpus, per-query top-k via window.  The corpus is
never shuffled, so this scales to any corpus size; cost is
O(|corpus| x |queries| x dim) JVM-side arithmetic.

Scale paths:
- LSH (random hyperplanes): sign-bit signature buckets; only matching
  buckets are compared (multi-band OR for recall).
- IVF: k-means-lite coarse quantizer (sampled centroids refined by a
  few Lloyd iterations via DataFrame aggs); corpus partitioned by
  nearest centroid; queries probe the ``n_probe`` nearest lists.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xgboost_spark.operators.util import sql_double


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(v):
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding width from the first row, with a clear error instead of
    a TypeError when the input is empty or the first vector is null."""
    first = df.select(vec_col).first()
    if first is None or first[0] is None:
        raise ValueError(
            f"cannot infer embedding dimension: no non-null '{vec_col}' row")
    return len(first[0])


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id",
                q_vec_col: str | None = None, q_id_col: str | None = None) -> DataFrame:
    """Brute-force cosine top-k: (query_id, neighbor_id, cos, rank).

    Plan shape: broadcast(queries) x corpus scan -> window top-k.  The
    join is a broadcast nested loop — no corpus shuffle; top-k presorts
    per partition before the final per-query merge (rank window).
    """
    from xgboost_spark.operators.util import ensure_parallelism
    q_vec_col = q_vec_col or vec_col
    q_id_col = q_id_col or id_col
    c = ensure_parallelism(corpus.select(
        F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("cv"))) \
        .withColumn("cn", _norm(F.col("cv")))
    q = queries.select(F.col(q_id_col).alias("query_id"), F.col(q_vec_col).alias("qv"),
                       _norm(F.col(q_vec_col)).alias("qn"))
    joined = c.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("nbr_id"))
    scored = joined.withColumn("cos", _dot(F.col("cv"), F.col("qv")) / (F.col("cn") * F.col("qn")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cos", "rank")
    )


def hash_planes(n_planes: int, dim: int) -> np.ndarray:
    """Deterministic uniform[-1, 1) hyperplanes derived from md5: plane
    p component j = ('0x'||substr(md5('pl{p}:d{j}'),1,12))::BIGINT /
    2^47 - 1.  The 48-bit integer fits a double exactly and the divisor
    is a power of two, so the values are BIT-IDENTICAL in any engine
    that evaluates the same expression — which makes sign-LSH bucketing
    replayable in SQL (the DuckDB oracle for `knn_lsh` regenerates the
    very same planes).  Uniform components are a standard substitute
    for gaussian ones in sign-LSH (the bucketing stays locality
    sensitive; only the angular uniformity constant changes)."""
    import hashlib
    return np.array([
        [int(hashlib.md5(f"pl{p}:d{j}".encode()).hexdigest()[:12], 16) / 2.0 ** 47 - 1.0
         for j in range(dim)]
        for p in range(n_planes)])


def _plane_sig(vec_col, planes: np.ndarray):
    dim = planes.shape[1]
    return F.concat(*[
        F.when(_dot(vec_col, F.array(*[F.lit(float(p[j])) for j in range(dim)])) > 0,
               F.lit("1")).otherwise(F.lit("0"))
        for p in planes
    ])


def cosine_topk_lsh(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    n_planes: int = 12, bands: int = 3, seed: int = 42,
                    plane_source: str = "seeded") -> DataFrame:
    """LSH-bucketed ANN top-k: signature split into ``bands``; a
    candidate must share >= 1 band with the query.  Equi-join on
    (band, bucket) — shuffle keyed on short strings, then exact rerank
    within candidates only.

    ``plane_source``: "seeded" (gaussian, numpy seeded RNG) or "hash"
    (md5-derived uniform planes, `hash_planes` — engine-independent, so
    results are exactly replayable in SQL).
    """
    dim = _infer_dim(corpus, vec_col)
    if plane_source == "hash":
        planes = hash_planes(n_planes, dim)
    else:
        rng = np.random.default_rng(seed)
        planes = rng.normal(size=(n_planes, dim))
    r = n_planes // bands
    band_arr_exprs = []
    for b in range(bands):
        band_arr_exprs.append(_plane_sig(F.col("v"), planes[b * r:(b + 1) * r]))

    def banded(df, idc, vecc, out_id):
        d = df.select(F.col(idc).alias(out_id), F.col(vecc).alias("v"),
                      _norm(F.col(vecc)).alias(f"{out_id}_n"))
        d = d.select(out_id, "v", f"{out_id}_n",
                     F.posexplode(F.array(*band_arr_exprs)).alias("band", "bucket"))
        return d

    c = banded(corpus, id_col, vec_col, "nbr_id").withColumnRenamed("v", "cv")
    q = banded(queries, id_col, vec_col, "query_id").withColumnRenamed("v", "qv")
    cand = (
        c.join(q, ["band", "bucket"])
        .filter(F.col("query_id") != F.col("nbr_id"))
        .select("query_id", "nbr_id", "cv", "qv",
                F.col("nbr_id_n").alias("cn"), F.col("query_id_n").alias("qn"))
        .dropDuplicates(["query_id", "nbr_id"])
    )
    scored = cand.withColumn("cos", _dot(F.col("cv"), F.col("qv")) / (F.col("cn") * F.col("qn")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cos", "rank")
    )


def scalar_quantize(df: DataFrame, vec_col: str = "embedding",
                    id_col: str = "vec_id", bits: int = 8) -> DataFrame:
    """Per-dimension scalar quantization of an embedding column to
    ``bits``-bit integer codes (the storage-compression half of
    SQ-flavored ANN indexes: 4x smaller than float32 at 8 bits).

    Two phases, both scale-clean:
    1. one aggregation computes per-dimension min/max (2 x dim scalar
       aggs in a single pass — driver result is dim-sized, row-count
       independent, no shuffle beyond the scalar agg);
    2. codes + reconstruction error are pure map-side expressions with
       the ranges inlined as array literals — no second shuffle, no UDF.

    Returns (id, codes array<int>, mse double).  code = round((x-mn)/
    (mx-mn)*levels), clamped; constant dimensions code to 0.  Every step
    is a reproducible double-precision expression (left-to-right folds),
    so the output is exactly replayable in SQL.
    """
    levels = float((1 << bits) - 1)
    v = F.col(vec_col).cast("array<double>")
    dim = _infer_dim(df, vec_col)
    aggs = []
    for i in range(dim):
        e = F.element_at(v, i + 1)
        aggs += [F.min(e).alias(f"mn{i}"), F.max(e).alias(f"mx{i}")]
    mm = df.agg(*aggs).first()
    mns = [float(mm[f"mn{i}"]) for i in range(dim)]
    mxs = [float(mm[f"mx{i}"]) for i in range(dim)]
    mn_arr = F.array(*[F.lit(x) for x in mns])
    mx_arr = F.array(*[F.lit(x) for x in mxs])

    def code_expr(x, i):
        mn = F.element_at(mn_arr, i + 1)
        mx = F.element_at(mx_arr, i + 1)
        raw = F.floor((x - mn) / (mx - mn) * levels + 0.5)
        c = F.greatest(F.lit(0.0), F.least(F.lit(levels), raw.cast("double")))
        return F.when(mx > mn, c).otherwise(F.lit(0.0))

    def deq_expr(c, i):
        mn = F.element_at(mn_arr, i + 1)
        mx = F.element_at(mx_arr, i + 1)
        return mn + c * (mx - mn) / levels

    d = df.select(F.col(id_col).alias("id"), v.alias("_v"))
    d = d.withColumn("_cd", F.transform(F.col("_v"), code_expr))
    d = d.withColumn("_dq", F.transform(F.col("_cd"), deq_expr))
    mse = F.aggregate(
        F.zip_with(F.col("_v"), F.col("_dq"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x) / float(dim)
    return d.select(
        "id",
        F.transform(F.col("_cd"), lambda c: c.cast("int")).alias("codes"),
        mse.alias("mse"))


# Above this centroid count, nearest-centroid assignment switches from
# per-centroid Catalyst expressions (SQL-replayable, but analyzer cost
# O(n_centroids x dim) expression nodes) to a broadcast-NumPy
# mapInPandas argmin-matmul (Arrow-vectorized, no shuffle, analyzer
# cost flat) — a 100 TB SemDeDup/IVF wants 10^4-10^5 clusters, far past
# what plan compilation survives on the expression path.
EXPR_ASSIGN_MAX = 64
# ivf_search(broadcast_queries=True) refuses to collect more query rows
# than this — past it the distributed probe-assignment path runs instead
IVF_BROADCAST_QUERY_MAX = 100_000


def _d2_fold_sql(vec_sql: str, center) -> str:
    """SQL text of the squared-L2 fold between ``vec_sql`` and a
    literal centroid: the SAME left-to-right aggregate/zip_with
    expression the Column API built, parsed in ONE shot.  Building it
    per-centroid through py4j Column calls cost 1-3 ms per call on the
    driver — thousands of round trips (n_centroids x dim literals) made
    expression CONSTRUCTION, not execution, the dominant cost of
    pq_encode/pq_topk/_assign_lists (measured round 15: pq_encode build
    7.7 s vs 0.4 s to actually run the codes scan at sf0.01).  repr() of
    a Python float round-trips exactly, so the parsed literals are
    bit-identical to F.lit's; non-finite values (NaN/Inf embeddings
    propagate into centroids) have no literal form and render as casts
    of Spark's special strings, as F.lit would carry them."""
    lits = ", ".join(sql_double(x) for x in center)
    return (f"aggregate(zip_with({vec_sql}, array({lits}), "
            "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x)")


def _assign_lists_np(df: DataFrame, cents: np.ndarray, vec_col: str) -> DataFrame:
    """Nearest-centroid assignment via broadcast centroid matrix +
    vectorized argmin per Arrow batch: d2 = |v|^2 - 2 v.C^T + |c|^2,
    one matmul per batch, no per-row Python.  Ties -> lowest list_id
    (np.argmin picks the first minimum, same rule as the expression
    path).  Appends ``list_id`` to the input schema unchanged."""
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.ascontiguousarray(np.asarray(cents, dtype=np.float64))
    bc = df.sparkSession.sparkContext.broadcast(C)
    out_schema = StructType(list(df.schema.fields)
                            + [StructField("list_id", IntegerType())])

    def assign_batches(batches):
        M = bc.value
        c2 = (M * M).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(list_id=pd.array([], dtype="int32"))
                continue
            V = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            d2 = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ M.T) + c2[None, :]
            yield pdf.assign(list_id=np.argmin(d2, axis=1).astype(np.int32))

    return df.mapInPandas(assign_batches, out_schema)


def _assign_lists(df: DataFrame, cents: np.ndarray, vec_col: str,
                  expr_max: int = EXPR_ASSIGN_MAX) -> DataFrame:
    """Nearest-centroid assignment (squared L2, ties -> lowest list_id).

    Up to ``expr_max`` centroids: argmin over an ARRAY of per-centroid
    distances — expression size stays linear in n_centroids (a chained
    when(d2<best,...) would embed the running tree twice per centroid ->
    exponential blowup that stalls the analyzer), and each distance is a
    left-to-right fold over dimensions, so the doubles are reproducible
    across engines (SQL-oracle replayable).  Beyond ``expr_max`` the
    broadcast-NumPy path takes over (same assignment up to fp rounding
    of the matmul, analyzer cost flat in n_centroids).
    """
    if len(cents) > expr_max:
        return _assign_lists_np(df, cents, vec_col)
    d2s_sql = ", ".join(_d2_fold_sql(f"`{vec_col}`", cents[ci])
                        for ci in range(len(cents)))
    return (df.withColumn("_d2s", F.expr(f"array({d2s_sql})"))
            .withColumn("list_id",
                        (F.array_position(F.col("_d2s"),
                                          F.array_min(F.col("_d2s"))) - 1
                         ).cast("int"))
            .drop("_d2s"))


def ivf_build(corpus: DataFrame, n_centroids: int = 16, vec_col: str = "embedding",
              id_col: str = "vec_id", iters: int = 2, seed: int = 42,
              train_fraction: float = 1.0,
              seed_by: str = "vector",
              mean_round: int | None = None) -> tuple[DataFrame, np.ndarray]:
    """IVF coarse quantizer / distributed k-means: deterministic-sample
    centroids, refine with ``iters`` Lloyd steps (each step = one
    groupBy(cluster) agg of per-dimension means — a single shuffle),
    assign corpus to nearest centroid.  Returns
    (assigned_corpus(list_id, ...), centroids).

    ``mean_round``: when set, each Lloyd mean is rounded to that many
    decimals INSIDE the aggregation (``F.round(avg, mean_round)``)
    before becoming the next centroid.  With ``seed_by="id"`` this
    makes every refined centroid an engine-independent deterministic
    function of the data — the `kmeans_iter` DuckDB oracle replays
    seeds, assignment, Lloyd means, and re-assignment bit-for-bit.

    Scale contract: the Lloyd loop scans its training set once per
    iteration, so the projected training set is persisted
    (MEMORY_AND_DISK) for the duration of the build instead of re-running
    the full input lineage each step.  At 100 TB, set ``train_fraction``
    so the seeded sample is ~1M rows — centroid quality needs a sample,
    not the full corpus; the final assignment still covers every row.

    ``seed_by="id"`` picks the seed rows by md5 of the ROW ID instead of
    the vector text: with ``iters=0`` the whole quantizer is then an
    engine-independent deterministic function of the ids, so the full
    IVF search is replayable in plain SQL (the `knn_ivf0` DuckDB oracle
    regenerates the identical seeds, assignment, and probe lists).

    Memory contract at large ``n_centroids``: the centroid matrix
    (n_centroids x dim doubles) must fit on the driver and in each
    executor — it is broadcast for assignment (the standard IVF
    contract; e.g. 10^5 x 768 ~ 0.6 GB).  The per-iteration Lloyd
    means collect is exactly that same size, so it adds no new bound.
    Past ``EXPR_ASSIGN_MAX`` centroids, assignment runs on the
    broadcast-NumPy mapInPandas path automatically.
    """
    if seed_by == "id":
        seed_rows = (
            corpus.select(F.col(vec_col).alias("v"),
                          F.md5(F.concat(F.col(id_col).cast("string"),
                                         F.lit(":ivf"))).alias("_h"))
            .orderBy("_h").limit(n_centroids).collect())
        cents = np.array([r["v"] for r in seed_rows], dtype=np.float64)
        if iters == 0:
            return _assign_lists(corpus, cents, vec_col), cents
    train = corpus.select(F.col(vec_col).alias("v"))
    if train_fraction < 1.0:
        train = train.sample(fraction=train_fraction, seed=seed)
    # persist only when the Lloyd loop actually RE-scans the training
    # set (iters > 1, or a vector-seeded build that scans it once for
    # seeds and again per iteration) — with seed_by="id" and one
    # iteration there is exactly one consumer, so a cache would only
    # add fill cost and storage pressure (guide: cache what is reused)
    from pyspark import StorageLevel
    persisted = iters > 1 or (seed_by != "id" and iters > 0)
    if persisted:
        train = train.persist(StorageLevel.MEMORY_AND_DISK)
    if seed_by != "id":
        seed_rows = (
            train
            .orderBy(F.md5(F.concat_ws(",", F.col("v").cast("string"), F.lit(str(seed)))))
            .limit(n_centroids).collect()
        )
        cents = np.array([r["v"] for r in seed_rows], dtype=np.float64)

    def assign(df, col=None):
        return _assign_lists(df, cents, col or vec_col)

    mean_expr = (F.avg("x") if mean_round is None
                 else F.round(F.avg("x"), mean_round))
    for _ in range(iters):
        assigned = assign(train, col="v")
        # Arrow toPandas, not collect(): the means table is
        # n_centroids x dim ROWS, and per-Row driver objects would
        # inflate the centroid-matrix-sized payload ~100x at large k*dim
        means = (
            assigned.select("list_id", F.posexplode("v").alias("d", "x"))
            .groupBy("list_id", "d").agg(mean_expr.alias("mx"))
            .toPandas()
        )
        cents[means["list_id"].to_numpy(), means["d"].to_numpy()] = \
            means["mx"].to_numpy()
    if persisted:
        train.unpersist()
    return assign(corpus), cents


def cosine_topk_ivf(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    n_centroids: int = 16, n_probe: int = 4, seed: int = 42,
                    broadcast_queries: bool = True, iters: int = 2,
                    seed_by: str = "vector",
                    rank_round: int | None = None,
                    mean_round: int | None = None) -> DataFrame:
    """IVF ANN: probe the ``n_probe`` nearest inverted lists per query.
    The corpus side is pre-partitioned by list_id (bucketing in a real
    deployment); the probe join is an equi-join on list_id.

    Query-side contracts:
    - ``broadcast_queries=True`` (default): the query set is collected
      to the driver to compute probe lists, then broadcast back — right
      for driver-sized query sets (thousands), one corpus scan, no
      corpus shuffle.
    - ``broadcast_queries=False``: probe lists are computed as a pure
      Catalyst expression (array_sort over per-centroid distance
      structs) and the candidate join shuffles BOTH sides on list_id —
      unbounded query sets, e.g. corpus-vs-corpus kNN joins.
    The corpus never moves through the driver in either mode.
    """
    assigned, cents = ivf_build(corpus, n_centroids, vec_col, id_col,
                                seed=seed, iters=iters, seed_by=seed_by,
                                mean_round=mean_round)
    return ivf_search(assigned, cents, queries, k=k, vec_col=vec_col,
                      id_col=id_col, n_probe=n_probe,
                      broadcast_queries=broadcast_queries,
                      rank_round=rank_round)


def ivf_save(assigned: DataFrame, cents: np.ndarray, path: str,
             vec_col: str = "embedding"):
    """Persist an IVF index built by :func:`ivf_build`: the assigned
    corpus under ``path/lists`` (partitioned by list_id, so a probe
    scan prunes to n_probe partitions) and the centroid matrix under
    ``path/centroids`` (plain parquet — no engine-private format; any
    Spark/DuckDB reader can inspect it).

    Build once, serve many: re-embedding + re-clustering a 100 TB
    corpus per query batch is the cost this avoids —
    :func:`cosine_topk_ivf` rebuilds per call and is for one-shot use.
    """
    # the two writes are independent — submit them from two driver
    # threads so the tiny centroid write's fixed commit latency hides
    # under the corpus write (guide §2.6 "overlap independent jobs")
    from concurrent.futures import ThreadPoolExecutor
    spark = assigned.sparkSession
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(cents)]
    cdf = spark.createDataFrame(rows, "list_id int, centroid array<double>")
    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(lambda: assigned.write.partitionBy("list_id")
                         .parquet(f"{path}/lists"))
        f2 = pool.submit(lambda: cdf.coalesce(1).write
                         .parquet(f"{path}/centroids"))
        f1.result(), f2.result()


def ivf_load(spark, path: str) -> tuple[DataFrame, np.ndarray]:
    """Reload an :func:`ivf_save` index: (assigned_corpus, centroids)."""
    assigned = spark.read.parquet(f"{path}/lists")
    crows = (spark.read.parquet(f"{path}/centroids")
             .orderBy("list_id").collect())
    cents = np.array([r["centroid"] for r in crows], dtype=np.float64)
    return assigned, cents


def ivf_search(assigned: DataFrame, cents: np.ndarray, queries: DataFrame,
               k: int = 10, vec_col: str = "embedding",
               id_col: str = "vec_id", n_probe: int = 4,
               broadcast_queries: bool = True,
               rank_round: int | None = None) -> DataFrame:
    """Top-k cosine search against a PREBUILT IVF index — the serving
    half of :func:`cosine_topk_ivf` (same query-side contracts; see its
    docstring), taking (assigned, cents) from :func:`ivf_build` or
    :func:`ivf_load` so one index serves many query batches.
    """
    corpus = assigned
    c = assigned.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("cv"),
                        _norm(F.col(vec_col)).alias("cn"), "list_id")
    qp = None
    if broadcast_queries:
        # self-enforcing contract: broadcast_queries=True collects the
        # query side, which is only sane for a batch << corpus.  The
        # LIMIT bounds the collect itself, so a corpus-sized query frame
        # cannot OOM the driver — it falls through to the distributed
        # probe-assignment path with a warning instead.
        qp = (queries.select(F.col(id_col).alias("query_id"),
                             F.col(vec_col).alias("qv"))
              .limit(IVF_BROADCAST_QUERY_MAX + 1).toPandas())
        if len(qp) > IVF_BROADCAST_QUERY_MAX:
            import warnings
            warnings.warn(
                f"ivf_search(broadcast_queries=True) with more than "
                f"{IVF_BROADCAST_QUERY_MAX} query rows — switching to the "
                f"distributed probe-assignment path (pass "
                f"broadcast_queries=False to silence)", stacklevel=2)
            broadcast_queries = False
            qp = None
    if broadcast_queries:
        # driver-side probe list per query is tiny: compute via pandas
        qv = np.stack(qp["qv"].to_numpy()).astype(np.float64)
        d2 = ((qv[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        # stable sort: equidistant centroids tie to the lowest list_id,
        # matching the expression path and the NumPy scale path
        probes = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
        rows = [
            (int(qp["query_id"][i]), [float(x) for x in qv[i]], [int(p) for p in probes[i]])
            for i in range(len(qp))
        ]
        spark = corpus.sparkSession
        qdf = spark.createDataFrame(rows, "query_id long, qv array<double>, probe array<int>")
        qdf = qdf.select("query_id", "qv", F.explode("probe").alias("list_id"),
                         _norm(F.col("qv")).alias("qn"))
        qdf = F.broadcast(qdf)
    elif len(cents) > EXPR_ASSIGN_MAX:
        # distributed probe assignment, scale path: broadcast centroid
        # matrix, top-n_probe lists per query via one matmul per Arrow
        # batch (stable argsort -> ties to the lowest list_id, same rule
        # as the expression path)
        import pandas as pd
        from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                       StructField, StructType)
        src = queries.select(F.col(id_col).alias("query_id"),
                             F.col(vec_col).cast("array<double>").alias("qv"))
        C = np.ascontiguousarray(np.asarray(cents, dtype=np.float64))
        bc = src.sparkSession.sparkContext.broadcast(C)
        schema = StructType([src.schema["query_id"],
                             StructField("qv", ArrayType(DoubleType())),
                             StructField("qn", DoubleType()),
                             StructField("probe", ArrayType(IntegerType()))])

        def probe_batches(batches):
            M = bc.value
            c2 = (M * M).sum(axis=1)
            for pdf in batches:
                if len(pdf) == 0:
                    yield pdf.assign(qn=pd.array([], dtype="float64"),
                                     probe=pd.Series([], dtype=object))
                    continue
                V = np.stack([np.asarray(v, dtype=np.float64)
                              for v in pdf["qv"]])
                v2 = (V * V).sum(axis=1)
                d2 = v2[:, None] - 2.0 * (V @ M.T) + c2[None, :]
                idx = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
                yield pdf.assign(qn=np.sqrt(v2),
                                 probe=list(idx.astype(np.int32)))

        qdf = (src.mapInPandas(probe_batches, schema)
               .select("query_id", "qv", "qn",
                       F.explode("probe").alias("list_id")))
    else:
        # distributed probe assignment: array_sort over (d2, list) pairs
        # picks the n_probe nearest centroids JVM-side, no driver hop
        pairs = ", ".join(
            f"named_struct('d', {_d2_fold_sql(f'`{vec_col}`', cents[ci])}, "
            f"'i', {ci})"
            for ci in range(len(cents)))
        top = F.expr(f"slice(array_sort(array({pairs})), 1, {n_probe})")
        qdf = (queries.select(F.col(id_col).alias("query_id"),
                              F.col(vec_col).alias("qv"),
                              _norm(F.col(vec_col)).alias("qn"),
                              F.explode(F.transform(top, lambda s: s["i"]))
                              .alias("list_id")))
    cand = c.join(qdf, "list_id").filter(F.col("query_id") != F.col("nbr_id"))
    cos = _dot(F.col("cv"), F.col("qv")) / (F.col("cn") * F.col("qn"))
    if rank_round is not None:
        # rank on the rounded cosine so near-tied candidates cannot be
        # reordered by cross-engine ulp differences (SQL-replayable)
        cos = F.round(cos, rank_round)
    scored = cand.withColumn("cos", cos)
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cos", "rank")
    )


def pq_train(corpus: DataFrame, m: int = 8, k: int = 16,
             vec_col: str = "embedding", id_col: str = "vec_id",
             iters: int = 0) -> np.ndarray:
    """Train product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search" — public paper): the
    vector is split into ``m`` contiguous subspaces and each gets a
    ``k``-entry codebook.  Codebook entries start as the md5(vec_id)-
    selected seed rows' subvectors; ``iters`` Lloyd steps refine them —
    each step is ONE distributed job covering all m subspaces at once
    (assign codes map-side, groupBy (subspace, code, dim) avg; the
    driver collects m x k x dim/m means, corpus-size independent).

    ``iters=0`` keeps the codebooks a pure deterministic function of the
    ids — engine-replayable in SQL (the `pq_topk` oracle).  Returns
    centroids shaped (m, k, dim/m).
    """
    seed_rows = (
        corpus.select(F.col(vec_col).cast("array<double>").alias("v"),
                      F.md5(F.concat(F.col(id_col).cast("string"),
                                     F.lit(":pq"))).alias("_h"))
        .orderBy("_h").limit(k).collect())
    dim = len(seed_rows[0]["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    full = np.array([r["v"] for r in seed_rows], dtype=np.float64)  # (k, dim)
    cents = np.stack([full[:, j * sub:(j + 1) * sub] for j in range(m)])  # (m,k,sub)
    if not iters:
        return cents
    from pyspark import StorageLevel
    train = corpus.select(F.col(vec_col).cast("array<double>").alias("v")) \
                  .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        for _ in range(iters):
            # one SQL parse for the whole per-subspace struct array —
            # the py4j Column form built m*k*sub literal nodes per
            # iteration (~4k driver round trips at m=8,k=64), which made
            # expression CONSTRUCTION dominate the Lloyd loop; see
            # _d2_fold_sql
            per_sub = []
            for j in range(m):
                seg = f"slice(`v`, {j * sub + 1}, {sub})"
                arr = "array(" + ", ".join(
                    _d2_fold_sql(seg, cents[j, ki]) for ki in range(k)) + ")"
                code = (f"CAST(array_position({arr}, array_min({arr})) - 1 "
                        "AS INT)")
                per_sub.append(f"named_struct('j', {j}, 'code', {code}, "
                               f"'seg', {seg})")
            # Arrow toPandas (columnar) — the means table is k x dim
            # rows; see ivf_build's Lloyd loop for the rationale
            means = (
                train.select(F.explode(
                    F.expr("array(" + ", ".join(per_sub) + ")")).alias("s"))
                .select(F.col("s.j").alias("j"), F.col("s.code").alias("code"),
                        F.posexplode("s.seg").alias("d", "x"))
                .groupBy("j", "code", "d").agg(F.avg("x").alias("mx"))
                .toPandas())
            cents[means["j"].to_numpy(), means["code"].to_numpy(),
                  means["d"].to_numpy()] = means["mx"].to_numpy()
    finally:
        train.unpersist()
    return cents


def _pq_encode_np(corpus: DataFrame, cents: np.ndarray,
                  vec_col: str, id_col: str) -> DataFrame:
    """PQ encode via broadcast codebooks + per-Arrow-batch NumPy argmin
    (one matmul per subspace per batch): the scale path for large
    codebooks (k=256 x m=8 would be 2048 fold expressions on the
    expression path — analyzer death at deployment sizes)."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    m, k, sub = cents.shape
    C = np.ascontiguousarray(np.asarray(cents, dtype=np.float64))
    src = corpus.select(F.col(id_col).alias("id"),
                        F.col(vec_col).cast("array<double>").alias("v"))
    bc = src.sparkSession.sparkContext.broadcast(C)
    schema = StructType([src.schema["id"],
                         StructField("codes", ArrayType(IntegerType()))])

    def encode_batches(batches):
        M = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"id": pdf["id"],
                                    "codes": pd.Series([], dtype=object)})
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                seg = V[:, j * sub:(j + 1) * sub]
                Cj = M[j]                                     # (k, sub)
                d2 = ((seg * seg).sum(axis=1)[:, None]
                      - 2.0 * (seg @ Cj.T) + (Cj * Cj).sum(axis=1)[None, :])
                codes[:, j] = np.argmin(d2, axis=1)
            yield pd.DataFrame({"id": pdf["id"], "codes": list(codes)})

    return src.mapInPandas(encode_batches, schema)


def pq_encode(corpus: DataFrame, cents: np.ndarray,
              vec_col: str = "embedding", id_col: str = "vec_id",
              expr_max: int = EXPR_ASSIGN_MAX) -> DataFrame:
    """Encode each vector as ``m`` small codes (nearest codebook entry
    per subspace, squared L2, ties -> lowest code).  Up to ``expr_max``
    codebook entries per subspace: pure map-side expressions — no
    shuffle, no UDF (SQL-replayable); past it, the broadcast-NumPy
    mapInPandas path (same codes up to matmul fp rounding).  8-bit
    codes shrink a float32 corpus ~16x (dim=64, m=8)."""
    m, k, sub = cents.shape
    if k > expr_max:
        return _pq_encode_np(corpus, cents, vec_col, id_col)
    code_cols = []
    for j in range(m):
        seg = (f"slice(CAST(`{vec_col}` AS ARRAY<DOUBLE>), "
               f"{j * sub + 1}, {sub})")
        arr = "array(" + ", ".join(
            _d2_fold_sql(seg, cents[j, ki]) for ki in range(k)) + ")"
        code_cols.append(
            f"CAST(array_position({arr}, array_min({arr})) - 1 AS INT)")
    return corpus.select(
        F.col(id_col).alias("id"),
        F.expr("array(" + ", ".join(code_cols) + ")").alias("codes"))


def pq_topk(corpus: DataFrame, queries: DataFrame, cents: np.ndarray,
            topk: int = 10, vec_col: str = "embedding",
            id_col: str = "vec_id", rank_round: int | None = 8) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the corpus is scanned as CODES
    only; each query carries its m x k distance table (exact squared L2
    from the query subvector to every codebook entry — computed JVM-side
    per query row), and a candidate's distance is m table lookups.

    Plan: broadcast(queries+tables) x corpus-codes scan -> window
    top-k.  The corpus never shuffles and never rematerializes floats —
    this is the memory-bound regime PQ exists for.

    ``rank_round``: the ADC distance is a sum of m doubles whose
    summation order an engine does not guarantee; ranking on the raw
    value lets ulp differences reorder near-tied candidates across
    engines.  Rounding BEFORE the row_number (default 8 dp) makes the
    ordering ulp-insensitive, so a SQL twin replays it exactly;
    pass None to rank on the raw distance."""
    m, k, sub = cents.shape
    codes = pq_encode(corpus, cents, vec_col, id_col)
    if k > EXPR_ASSIGN_MAX:
        # scale path: the m x k ADC table per query via NumPy on Arrow
        # batches (the expression path would build m*k fold expressions)
        import pandas as pd
        from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType
        src = queries.select(F.col(id_col).alias("query_id"),
                             F.col(vec_col).cast("array<double>").alias("v"))
        C = np.ascontiguousarray(np.asarray(cents, dtype=np.float64))
        bc = src.sparkSession.sparkContext.broadcast(C)
        schema = StructType([src.schema["query_id"],
                             StructField("dtab",
                                         ArrayType(ArrayType(DoubleType())))])

        def dtab_batches(batches):
            M = bc.value
            for pdf in batches:
                out = []
                for v in pdf["v"]:
                    V = np.asarray(v, dtype=np.float64)
                    tab = [((V[j * sub:(j + 1) * sub][None, :] - M[j]) ** 2)
                           .sum(axis=1) for j in range(m)]
                    out.append([t.tolist() for t in tab])
                yield pd.DataFrame({"query_id": pdf["query_id"],
                                    "dtab": out})

        q = src.mapInPandas(dtab_batches, schema)
    else:
        dtabs = []
        for j in range(m):
            seg = (f"slice(CAST(`{vec_col}` AS ARRAY<DOUBLE>), "
                   f"{j * sub + 1}, {sub})")
            dtabs.append("array(" + ", ".join(
                _d2_fold_sql(seg, cents[j, ki]) for ki in range(k)) + ")")
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.expr("array(" + ", ".join(dtabs) + ")").alias("dtab"))
    joined = codes.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("id"))
    dist = sum(
        (F.element_at(F.element_at("dtab", j + 1),
                      F.element_at("codes", j + 1) + 1) for j in range(m)),
        F.lit(0.0))
    if rank_round is not None:
        dist = F.round(dist, rank_round)
    w = Window.partitionBy("query_id").orderBy(F.col("adc_d2").asc(), F.col("id").asc())
    return (joined.withColumn("adc_d2", dist)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= topk)
            .select("query_id", F.col("id").alias("nbr_id"), "adc_d2", "rank"))


def semantic_dedup(corpus: DataFrame, n_clusters: int | str = "auto",
                   threshold: float = 0.9, vec_col: str = "embedding",
                   id_col: str = "vec_id", iters: int = 0,
                   seed_by: str = "id",
                   max_pair_bucket: int | None = 4096) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023 —
    public paper): cluster embeddings with the IVF coarse quantizer,
    compare pairs ONLY within a cluster, link pairs with cosine >=
    ``threshold``, and collapse each connected component to its min-id
    representative.

    Returns (id, rep_id); rows with rep_id == id are the keepers.  The
    pairwise stage is per-cluster (quadratic only within a cluster).
    The DEFAULT ``n_clusters="auto"`` is scale-aware sizing: ~256 rows
    per cluster, capped at 4096 clusters — measured LINEAR at 10x data,
    whereas any FIXED cluster count makes pair work quadratic in corpus
    size (the round-10 sweep measured fixed-k at 22.6x for 10x data).
    Pass an int only when the cluster count itself is the contract
    (e.g. an exactly-replayable oracle configuration); the component
    collapse is large-star/small-star contraction, O(log^2 n) rounds
    with a hard error (never a silent wrong answer) on non-convergence.
    With the default ``iters=0, seed_by="id"`` quantizer every stage is
    deterministic and SQL-replayable (the `semantic_dedup` oracle).

    ``max_pair_bucket`` bounds the quadratic stage at corpus scale: a
    cluster larger than the cap is sub-split by hyperplane sign-LSH
    (md5-derived planes, enough to cut the expected bucket below the
    cap) and pairs are only compared within (cluster, sub-bucket).
    Near-duplicates hash to the same side of every plane with high
    probability (exact duplicates always do), so recall loss is small —
    the published SemDeDup recipe likewise bounds cluster size rather
    than compare all pairs.  The DEFAULT is bounded (4096): a user
    calling the public API at corpus scale must not get an O(n^2/c)
    pair explosion on a skewed cluster out of the box.  Pass None
    explicitly for the exact within-cluster comparison (the
    oracle-replayable configuration used by `q_semantic_dedup`).

    .. versionchanged:: round 5
       ``max_pair_bucket`` defaults to 4096 (was None/exact).  When a
       cluster actually exceeds the cap, results switch from exact
       within-cluster comparison to approximate sign-LSH sub-bucketing
       (slightly lower recall); a one-time warning is logged when that
       happens so the change is detectable, and ``max_pair_bucket=None``
       restores the old exact behavior.
    """
    import math
    from pyspark import StorageLevel
    from xgboost_spark.operators.dedup import connected_components
    if n_clusters == "auto":
        # scale-aware sizing (round-10 sf1 sweep finding: a FIXED
        # cluster count makes the within-cluster pair stage quadratic —
        # 8 clusters ran 22.6x slower on 10x data).  Constant target
        # cluster size (~256) keeps pair work LINEAR in corpus size;
        # the 4096-cluster cap bounds assignment cost (n x k centroid
        # distances), past which the max_pair_bucket sign-LSH sub-split
        # re-bounds pair work instead.
        n_rows = corpus.count()
        n_clusters = min(4096, max(8, -(-n_rows // 256)))
    assigned, cents = ivf_build(corpus, n_clusters, vec_col, id_col,
                                iters=iters, seed_by=seed_by)
    d = assigned.select(F.col(id_col).alias("id"),
                        F.col(vec_col).cast("array<double>").alias("v"),
                        "list_id")
    d = d.withColumn("nrm", _norm(F.col("v")))
    # the assignment lineage feeds the sizes agg, both self-join sides,
    # and the component iterations — persist it once instead of
    # recomputing the (possibly mapInPandas-matmul) pass each time
    d = d.persist(StorageLevel.MEMORY_AND_DISK)
    pair_keys = ["list_id"]
    if max_pair_bucket is not None:
        sizes = d.groupBy("list_id").agg(F.count("*").alias("_csz"))
        max_size = (sizes.agg(F.max("_csz")).first() or [0])[0] or 0
        if max_size > max_pair_bucket:
            import warnings
            warnings.warn(
                f"semantic_dedup: a cluster of {max_size} rows exceeds "
                f"max_pair_bucket={max_pair_bucket}; oversized clusters "
                "are sub-split by sign-LSH (approximate, slightly lower "
                "recall than exact within-cluster comparison — pass "
                "max_pair_bucket=None for exact)", RuntimeWarning,
                stacklevel=2)
            n_planes = max(1, math.ceil(math.log2(max_size / max_pair_bucket)))
            # dim comes free from the centroid matrix — no extra pass
            planes = hash_planes(n_planes, int(cents.shape[1]))
            sub = _plane_sig(F.col("v"), planes)
            # only oversized clusters are split — small ones keep exact
            # within-cluster comparison (sizes is n_clusters rows:
            # broadcast, no corpus shuffle)
            d = (d.join(F.broadcast(sizes), "list_id")
                 .withColumn("_sub",
                             F.when(F.col("_csz") > max_pair_bucket, sub)
                             .otherwise(F.lit("")))
                 .drop("_csz"))
            pair_keys = ["list_id", "_sub"]
    a = d.alias("a")
    b = d.alias("b")
    dot = F.aggregate(F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    cond = (F.col("a.id") < F.col("b.id"))
    for kcol in pair_keys:
        cond = (F.col(f"a.{kcol}") == F.col(f"b.{kcol}")) & cond
    pairs = (a.join(b, cond)
             .withColumn("cos", dot / (F.col("a.nrm") * F.col("b.nrm")))
             .filter(F.col("cos") >= threshold)
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")))
    # connected_components materializes its labels (eager
    # localCheckpoint) while iterating, so d is consumed here and can
    # be released before returning the (comp-only) result plan
    comp = connected_components(pairs)
    d.unpersist()
    ids = corpus.select(F.col(id_col).cast("long").alias("id"))
    return (ids.join(comp, "id", "left")
            .select("id",
                    F.coalesce(F.col("component"), F.col("id")).alias("rep_id")))

"""Deduplication operators for large-scale document corpora.

All are pure DataFrame compositions (no Python row loops), designed so
every stage is a shuffle-on-key or broadcast join Catalyst can plan:

- exact: hash-groupBy on a content digest — one shuffle.
- MinHash+LSH: shingle -> per-permutation min-hash -> band -> bucket
  join.  Only docs sharing a band bucket are paired, so the candidate
  set stays near-linear at 100 TB (the classic MMDS construction).
- SimHash: 48-bit signature from per-token hashes, banded for Hamming
  LSH.
- n-gram Jaccard verification on candidate pairs only.

Hash functions use md5 (available identically in Spark and DuckDB, so
the oracle can replay them); "permutations" are md5 with a salt prefix,
and min() over the hex strings is an order-preserving min-hash.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def word_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 5) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle)."""
    from xgboost_spark.operators.util import ensure_parallelism
    d = ensure_parallelism(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t")))
    words = F.split(F.col("t"), r"\s+")
    # guard: sequence(1, 0) steps BACKWARD to [1, 0] in Spark, so a doc
    # with < n words must short-circuit to an empty gram list
    idxs = F.when(F.size(words) >= n,
                  F.sequence(F.lit(1), F.size(words) - (n - 1))
                  ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(idxs, lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    return d.select("id", F.explode(sh).alias("shingle")).distinct()


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content digest: returns (id, dup_group, group_size),
    one row per document belonging to a duplicated-content group.

    Group stats come from one HashAggregate on the digest (count +
    packed-decimal min(id), both partial-combining map-side) joined
    back with a shuffle_hash hint — NOT an unbounded window over the
    digest, which funnels every copy of one hot document (empty string,
    boilerplate page: 10^7-10^8 copies in a real crawl) into a single
    task.  The witness join-back filters to duplicated groups before it
    widens the stream (operators/util.keep_first).
    """
    from xgboost_spark.operators.util import KF_CNT, KF_MIN_ID, keep_first
    d = df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("dig"))
    return (keep_first(d, "dig", "id", min_group_count=2)
            .select("id", F.col(KF_MIN_ID).alias("dup_group"),
                    F.col(KF_CNT).alias("group_size")))


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of each exact-content group.

    Keep-first is a packed-decimal ``min`` HashAggregate on the digest
    + null-safe join-back (operators/util.keep_first) — the same
    skew-proof shape as strip_duplicate_spans, because exact dedup runs
    FIRST in every real pipeline and a hot boilerplate document at
    100 TB would otherwise serialize onto one row_number task.  (The
    join-back is UNhinted here: at min_group_count=1 the witness is
    one row per distinct digest — near corpus cardinality — so a
    non-spillable shuffled-hash build would OOM; AQE's skew-join split
    keeps hot digests out of a single sort task instead.)  Null-text
    docs hash to a NULL digest and keep one representative like any
    other group.  String (non-integral) ids fall back to the window
    path with a warning.
    """
    from xgboost_spark.operators.util import (KF_CNT, KF_FIRST, KF_MIN_ID,
                                              keep_first)
    d = df.withColumn("_kf_dig", F.md5(F.col(text_col)))
    return (keep_first(d, "_kf_dig", id_col)
            .filter(F.col(KF_FIRST))
            .drop("_kf_dig", KF_FIRST, KF_CNT, KF_MIN_ID))


def minhash_signatures(shingles: DataFrame, n_hashes: int = 16) -> DataFrame:
    """(id, sig array<bigint>): per-permutation min of a salted 48-bit
    hash (the first 12 hex chars of md5, decimal-decoded — replayable as
    ('0x'||substr(md5(..),1,12))::BIGINT in any SQL engine).

    One groupBy(id); the per-doc signature is a map-side-combinable agg.
    The hashes are BIGINTs rather than md5 hex STRINGS deliberately:
    fixed-width min buffers keep the aggregate a HashAggregate — with
    string mins Spark falls back to SortAggregate, which sorts the whole
    exploded shingle stream (corpus × words rows) per side, the dominant
    cost at 100 TB.  Numerically-min vs lexicographically-min are equally
    valid uniform permutations for MinHash.
    """
    def h48(i):
        # two independent 48-bit hashes per md5 evaluation (hex chars
        # 1-12 and 13-24 of the same digest) — md5 is the per-row cost
        # driver, so this halves the hashing work per shingle
        salted = F.md5(F.concat(F.lit(f"p{i // 2}:"), F.col("shingle")))
        off = 1 + 12 * (i % 2)
        return F.conv(F.substring(salted, off, 12), 16, 10).cast("bigint")
    aggs = [F.min(h48(i)).alias(f"mh{i}") for i in range(n_hashes)]
    d = shingles.groupBy("id").agg(*aggs)
    return d.select("id", F.array(*[F.col(f"mh{i}") for i in range(n_hashes)]).alias("sig"))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      n_hashes: int = 16, bands: int = 4, shingle_n: int = 5) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing >= 1 LSH band.

    rows_per_band = n_hashes / bands; a pair with Jaccard j collides with
    prob 1-(1-j^r)^b.  The band bucket join is an equi-join on
    (band_idx, band_value) — shuffle on a well-distributed key.
    """
    r = n_hashes // bands
    sig = minhash_signatures(word_shingles(df, text_col, id_col, shingle_n), n_hashes)
    band_arr = F.array(*[
        F.concat_ws("|", *[F.element_at("sig", b * r + i + 1) for i in range(r)])
        for b in range(bands)
    ])
    banded = sig.select("id", F.posexplode(band_arr).alias("band", "bucket"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_band_index(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_hashes: int = 16,
                       bands: int = 4, shingle_n: int = 5) -> DataFrame:
    """Persistable MinHash-LSH index of a corpus: (band, bucket, id).

    Production pipelines dedup INCREMENTALLY — each new crawl snapshot
    is checked against the accumulated corpus without re-pairing the
    corpus with itself.  This materializes the corpus side once; write
    it with ``df.write.bucketBy(n, "band", "bucket")`` (or partitioned
    by ``band``) so every later :func:`index_collisions` join co-locates
    on the index side and only the (much smaller) new batch shuffles.

    The hash family is deterministic (salted md5, no seeds/state), so an
    index built last month and a signature computed today agree — the
    property that makes the index reusable across runs.
    """
    r = n_hashes // bands
    sig = minhash_signatures(word_shingles(df, text_col, id_col, shingle_n),
                             n_hashes)
    band_arr = F.array(*[
        F.concat_ws("|", *[F.element_at("sig", b * r + i + 1) for i in range(r)])
        for b in range(bands)
    ])
    return sig.select("id", F.posexplode(band_arr).alias("band", "bucket"))


def index_collisions(new_df: DataFrame, index: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     n_hashes: int = 16, bands: int = 4,
                     shingle_n: int = 5) -> DataFrame:
    """Near-duplicate candidates of ``new_df`` against a prior corpus's
    :func:`minhash_band_index`: distinct (id, corpus_id) pairs sharing
    >= 1 LSH band bucket.

    ``index`` must have been built with the SAME (n_hashes, bands,
    shingle_n) — the band values are compared verbatim.  The join is an
    equi-join on (band, bucket): well-distributed keys, shuffle only on
    the new batch when the index is bucketed (see
    :func:`minhash_band_index`), broadcastable when the new batch is
    small.  Unlike the self-join in :func:`minhash_lsh_pairs` there is
    no ``id <`` ordering — the two sides are disjoint corpora by
    contract (same-id rows on both sides would mark a doc as its own
    duplicate).
    """
    banded = minhash_band_index(new_df, text_col, id_col,
                                n_hashes, bands, shingle_n)
    return (banded.alias("n")
            .join(index.alias("i"),
                  (F.col("n.band") == F.col("i.band"))
                  & (F.col("n.bucket") == F.col("i.bucket")))
            .select(F.col("n.id").alias("id"),
                    F.col("i.id").alias("corpus_id"))
            .distinct())


def dedup_against_index(new_df: DataFrame, index: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        n_hashes: int = 16, bands: int = 4,
                        shingle_n: int = 5) -> DataFrame:
    """``new_df`` minus documents near-duplicating the indexed corpus
    (any LSH band collision; the incremental complement of
    :func:`minhash_lsh_pairs` + strip).  Novel docs keep all columns.
    Within-batch duplicates are NOT removed here — run
    :func:`dedup_exact` / :func:`minhash_lsh_pairs` on the batch first,
    then this against the historical index.
    """
    hits = index_collisions(new_df, index, text_col, id_col,
                            n_hashes, bands, shingle_n).select("id").distinct()
    return new_df.join(hits, new_df[id_col] == hits["id"], "left_anti")


def exact_digest_index(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Persistable exact-dedup index: one row per distinct content md5.
    The incremental counterpart of :func:`dedup_exact` — write it once
    per accumulated corpus, union+distinct the new batch's digests in
    on each ingest."""
    return df.select(F.md5(F.col(text_col)).alias("dig")).distinct()


def dedup_exact_against(new_df: DataFrame, index: DataFrame,
                        text_col: str = "text") -> DataFrame:
    """``new_df`` minus rows whose content digest is already in an
    :func:`exact_digest_index`.  A digest-key left_anti join — one
    shuffle on md5 (uniform), index side broadcast when small."""
    return new_df.join(
        index.select("dig"),
        F.md5(new_df[text_col]) == index["dig"], "left_anti")


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """(id, component) for an undirected edge list (id_a, id_b):
    alternating large-star / small-star contraction (Kiveris et al.
    2014, "Connected Components in MapReduce and Beyond" — public
    paper), which converges in O(log^2 n) rounds even on adversarial
    long-path graphs (plain min-label propagation needs O(diameter)
    rounds — a 1000-node chain would blow any practical cap).

    Each round: large-star hangs every node's larger neighbors off the
    neighborhood minimum, small-star re-points every node at the
    minimum of its smaller neighbors; at the fixpoint each component is
    a star centered on its minimum id.  One groupBy + one join per
    star step; lineage is cut with localCheckpoint so plans stay flat.

    Raises RuntimeError if the fixpoint is not reached within
    ``max_iter`` rounds (25 rounds covers graphs beyond 2^25 nodes) —
    an unconverged result must never be silently returned, because it
    would diverge from an exact-transitive-closure oracle undetectably.
    """
    def _release_ckpt(df: DataFrame) -> None:
        # free an eager localCheckpoint's blocks NOW: they are pinned
        # executor storage until driver GC lets the ContextCleaner run,
        # so without this every contraction round leaves an edge-set-
        # sized block set behind — ~rounds x |E| of unevictable storage
        # at corpus scale.  Only provably-dead rounds are released (the
        # NEXT round's star is already materialized, so the old blocks
        # have no remaining reader; checkpoint data has no lineage, so
        # releasing anything still reachable would be unrecoverable).
        try:
            df._jdf.queryExecution().logical().rdd().unpersist(False)
        except Exception:
            pass        # best-effort: an unreleased block is only slower

    edges = (pairs.select(F.col("id_a").cast("long").alias("a"),
                          F.col("id_b").cast("long").alias("b"))
             .filter(F.col("a") != F.col("b")))
    # eager checkpoints decouple the result from the input lineage, so
    # a caller may unpersist/release the edge source once this returns
    nodes = (pairs.select(F.col("id_a").cast("long").alias("id"))
             .union(pairs.select(F.col("id_b").cast("long").alias("id")))
             .distinct().localCheckpoint(eager=True))
    # canonical directed-to-larger form: (a, b) with b < a
    star = (edges.select(F.greatest("a", "b").alias("a"),
                         F.least("a", "b").alias("b"))
            .distinct().localCheckpoint(eager=True))
    converged = False
    for _ in range(max_iter):
        # large-star: for each node u, attach every LARGER neighbor v to
        # m = min(neighborhood(u) + u).  Output edges always point
        # larger -> smaller, so the canonical form is preserved.
        sym = star.union(star.select(F.col("b").alias("a"),
                                     F.col("a").alias("b")))
        lmin = (sym.groupBy("a").agg(F.min("b").alias("mn"))
                .select("a", F.least("a", "mn").alias("m")))
        # NO distinct() here: ls is consumed only by smin's min
        # aggregate (duplicate-idempotent) and the ss join whose result
        # passes through ss's own distinct(), so deduplicating ls buys
        # nothing semantically and costs a full extra shuffle of the
        # edge set every round.  The duplicates that do flow onward are
        # collapsed map-side by the partial aggregates.
        ls = (sym.join(lmin, "a")
              .filter(F.col("b") > F.col("a"))
              .select(F.col("b").alias("a"), F.col("m").alias("b"))
              .filter(F.col("a") != F.col("b")))
        # small-star: re-point each node u (and its smaller neighbors)
        # at m = min of u's smaller neighbors
        smin = ls.groupBy("a").agg(F.min("b").alias("m"))
        ss = (ls.join(smin, "a")
              .select(F.col("b").alias("a"), F.col("m").alias("b"))
              .union(smin.select("a", F.col("m").alias("b")))
              .filter(F.col("a") != F.col("b"))
              .distinct().localCheckpoint(eager=True))
        # ss is fully materialized: the previous round's star blocks
        # have no remaining reader — release them instead of letting
        # every round's edge set accumulate until driver GC
        _release_ckpt(star)
        # convergence = ss IS the star forest of component minima (the
        # algorithm's unique fixpoint): every node appears at most once
        # as a child (unique `a`) and never both as a child and a
        # center (`a`s and `b`s disjoint) — with every edge already
        # pointing larger -> smaller by construction, that state is
        # exactly the fixpoint, so this check is exact, costs ONE
        # groupBy shuffle over ss (the former ss/star double exceptAll
        # cost ~4), and fires one round EARLIER than set-equality
        # (which needed an extra no-op round to observe "no change").
        marks = ss.select(F.col("a").alias("n"), F.lit(1).alias("as_a")) \
                  .union(ss.select(F.col("b").alias("n"),
                                   F.lit(0).alias("as_a")))
        viol = (marks.groupBy("n")
                .agg(F.sum("as_a").alias("na"), F.count("*").alias("tot"))
                .filter((F.col("na") > 1)
                        | ((F.col("na") >= 1)
                           & (F.col("tot") > F.col("na"))))
                .limit(1).count())
        star = ss
        if viol == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} "
            "large-star/small-star rounds — raise max_iter")
    # fixpoint is a star forest: every edge is (member, component-min);
    # centers never appear on the left, so they coalesce to themselves
    return (nodes.join(star, nodes["id"] == star["a"], "left")
            .select(nodes["id"],
                    F.coalesce(star["b"], nodes["id"]).alias("component")))


def minhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n_hashes: int = 16, bands: int = 4, shingle_n: int = 5,
                  threshold: float = 0.7, transitive: bool = False) -> DataFrame:
    """Full near-dedup: LSH candidates -> exact Jaccard -> representatives.
    Returns df minus near-duplicate non-representatives.

    Default representative rule is one-level min-id (drop every id_b of
    a verified pair) — one extra shuffle, adequate for dedup.  With
    ``transitive=True`` duplicate chains/stars collapse to ONE
    representative per connected component (iterated min-label
    propagation), e.g. pairs (1,5),(2,5) keep only doc 1 instead of
    {1, 2}.
    """
    pairs = minhash_lsh_pairs(df, text_col, id_col, n_hashes, bands, shingle_n)
    verified = ngram_jaccard_on_pairs(df, pairs, text_col, id_col, shingle_n)
    dup = verified.filter(F.col("jaccard") >= threshold)
    if transitive:
        comp = connected_components(dup)
        drop = comp.filter(F.col("id") != F.col("component")) \
                   .select(F.col("id").alias(id_col))
        return df.join(drop, id_col, "left_anti")
    # representative = min id over each pair-neighborhood
    drop = dup.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


def ngram_contamination(corpus: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 13) -> DataFrame:
    """Benchmark decontamination check (the standard n-gram-overlap
    method, GPT-3 appendix C / Lee et al. dedup style): for each corpus
    document, how many of its distinct word ``n``-grams also occur
    anywhere in the benchmark set.

    Returns ``(id, n_shingles, n_overlap, contamination)`` with
    ``contamination = n_overlap / n_shingles``; rows only for documents
    with at least one n-gram (empty/short docs can't be contaminated).

    Scale: both sides reduce to distinct-shingle sets; the benchmark
    side is additionally collapsed to DISTINCT shingles (its doc ids
    don't matter), so the join is corpus-shingles ⋈ benchmark-shingle-set
    — an equi-join on the shingle string, no pairwise doc×doc work.
    A typical benchmark is tiny relative to the corpus, so Spark/AQE
    broadcasts the right side; the corpus side streams map-side.
    """
    sh_c = word_shingles(corpus, text_col, id_col, n)
    sh_b = word_shingles(benchmark, text_col, id_col, n).select("shingle").distinct()
    sizes = sh_c.groupBy("id").agg(F.count("*").alias("n_shingles"))
    hits = (sh_c.join(sh_b, "shingle")
            .groupBy("id").agg(F.count("*").alias("n_overlap")))
    return (sizes.join(hits, "id", "left").fillna({"n_overlap": 0})
            .withColumn("contamination", F.col("n_overlap") / F.col("n_shingles"))
            .select("id", "n_shingles", "n_overlap", "contamination"))


def ngram_jaccard_on_pairs(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", shingle_n: int = 5) -> DataFrame:
    """(id_a, id_b, jaccard): exact word-n-gram Jaccard for given pairs.

    Measured and rejected (round-14 optimization pass): the
    similarity_join lazy-localCheckpoint barrier on ``sh``.  The
    shingle set does feed four plan branches, but unlike the span
    operators' per-char md5 explode the recompute here is cheap
    relative to the pair joins, and the interleaved A/B (sf0.1,
    best-of-4) read old 2.61 s vs checkpointed 2.87 s — no win, so the
    recompute plan stays.  Re-confirmed at sf1 on the ngram_jaccard
    gate entry (same consumer shape): old best-of-3 15.5 s vs
    checkpointed 20.3 s, and sf0.1 3.4 vs 7.9 s, results identical on
    every run — unlike the span operators' per-char md5, the shingle
    recompute is a cheap explode whose copies run inside the join
    stages' own parallelism, while the checkpoint serializes an extra
    materialize-then-consume barrier in front of the joins
    (plans/r14/ab_ngram_jaccard_ckpt.log)."""
    sh = word_shingles(df, text_col, id_col, shingle_n)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    sh_a = sh.select(F.col("id").alias("id_a"), "shingle")
    sh_b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        pairs.join(sh_a, "id_a").join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b").agg(F.count("*").alias("n_inter"))
    )
    out = (
        pairs.join(inter, ["id_a", "id_b"], "left").fillna({"n_inter": 0})
        .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn("jaccard", F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
    )
    return out.select("id_a", "id_b", "jaccard")


_BARRIER_LOCK = threading.Lock()
# main session -> {shuffle partitions: clone}
_BARRIER_CLONES = weakref.WeakKeyDictionary()


def _barrier_clone(spark):
    """A dedicated planning session per main session and current
    ``spark.sql.shuffle.partitions``, with AQE off in ITS OWN isolated
    conf.  ``newSession()`` shares the SparkContext and inherits the
    builder-time SQL confs (Arrow, timezone) but owns a private SQLConf,
    so flipping AQE there can never be observed by a query planned
    concurrently on the main session.  Shuffle partitions are copied
    from the main session at creation, and a runtime change to them
    gets its own clone; a clone's conf is never touched afterwards.
    Other runtime SQL conf changes on the main session do not reach the
    checkpointed subtree."""
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    with _BARRIER_LOCK:
        by_parts = _BARRIER_CLONES.setdefault(spark, {})
        clone = by_parts.get(parts)
        if clone is None:
            clone = spark.newSession()
            clone.conf.set("spark.sql.adaptive.enabled", "false")
            clone.conf.set("spark.sql.shuffle.partitions", parts)
            by_parts[parts] = clone
        return clone


def _lazy_local_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=False)`` that is ACTUALLY job-free at
    call time AND thread-safe.  Under AQE,
    ``AdaptiveSparkPlanExec.execute()`` materializes the plan's shuffle
    stages eagerly even for a lazy checkpoint (measured: 1 Spark job
    per call), which would break the plan-builder laziness contract
    (test_similarity_join_default_is_lazy).  The round-14 form flipped
    ``spark.sql.adaptive.enabled`` on the SHARED session conf around the
    call — not thread-safe once the entry harness started planning
    queries from a 4-thread pool.  Round 15: the subtree's analyzed
    plan is transplanted into a dedicated cloned session whose private
    conf has AQE permanently off (``Dataset.ofRows``), checkpointed
    there, and handed back — no shared state is ever mutated.

    Scale notes (the operator contract for barrier users):

    - **Failure semantics**: checkpoint blocks are unreplicated
      executor-local state with NO lineage — an executor loss fails the
      job instead of recomputing (acceptable for batch-with-retry; the
      retry recomputes from source).
    - **Storage bound**: blocks are MEMORY_AND_DISK — a gram/shingle
      set that outgrows storage memory spills to executor disk, the
      same place its own shuffle would put it.
    - **AQE loss is confined to the subtree**: the one shuffle inside
      is the shingle/gram ``distinct`` — an AGGREGATION, which AQE skew
      handling never splits anyway (it only splits join partitions), so
      the static plan forgoes only partition coalescing.
    - **Measured and REJECTED alternative (round 15)**: a
      ``persist(MEMORY_AND_DISK)`` barrier — thread-safe and
      lineage-backed, but the columnar cache build/read cost lost the
      interleaved A/B at sf0.1 in 11/12 pairs (strip_spans best 2.32 s
      vs 1.52 s, dup_spans 1.33 vs 1.15, similarity_join 2.10 vs 1.92),
      so the raw-block checkpoint stays."""
    spark = df.sparkSession
    clone = _barrier_clone(spark)
    of_rows = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
    jck = of_rows(clone._jsparkSession,
                  df._jdf.queryExecution().analyzed()).localCheckpoint(False)
    # re-root the checkpointed LogicalRDD leaf in the MAIN session so
    # every consumer keeps planning with the main conf (AQE on) — only
    # the checkpointed subtree itself is planned under the clone
    return DataFrame(of_rows(spark._jsparkSession,
                             jck.queryExecution().analyzed()), spark)


def _ppjoin_prefix(df: DataFrame, text_col: str, id_col: str,
                   threshold: float, shingle_n: int):
    """Shared PPJoin front half: (sh, sizes, prefix) — distinct doc
    shingles, per-doc shingle counts, and the rarest-first prefix rows
    that alone enter the candidate join."""
    # The shingle set feeds MANY consumers (sizes, dfreq, the ordered
    # window, and the caller's candidate/verify joins use it twice
    # each).  Without a materialization barrier Spark inlines the
    # explode+aggregate subtree into every consumer — the round-14 plan
    # audit counted the scan->Generate->HashAggregate chain TWELVE
    # times (74 Exchange nodes) in one similarity_join, and exchange
    # reuse cannot fire because per-branch column pruning makes the
    # copies canonically different.  A LAZY localCheckpoint computes
    # the shingles once per action and serves every consumer from
    # blocks; storage is one copy of the distinct-shingle set —
    # strictly less than ONE of the eleven recomputes it replaces
    # (each of which re-paid the scan, the explode and the distinct
    # shuffle).  ``prefix`` is a barrier too: its window+join subtree
    # would otherwise be planned into the candidate join twice and the
    # guard's bound once.  See _lazy_local_checkpoint for the barrier
    # contract (thread-safety, failure semantics, the rejected persist
    # alternative).
    sh = _lazy_local_checkpoint(
        word_shingles(df, text_col, id_col, shingle_n))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("dfreq"))
    w = Window.partitionBy("id").orderBy("dfreq", "shingle")
    ordered = (sh.join(dfreq, "shingle").join(sizes, "id")
               .withColumn("rk", F.row_number().over(w)))
    prefix = _lazy_local_checkpoint(ordered.filter(
        F.col("rk")
        <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1))
    return sh, sizes, prefix


def _ppjoin_bound_of_prefix(prefix: DataFrame):
    """(bound, per-shingle prefix-count DataFrame): the candidate
    upper bound sum C(df_prefix, 2) of a prefix row set.  Callers that
    built ``prefix`` from a doc sample at rate f must rescale by 1/f^2
    (pair volume is quadratic in per-shingle df)."""
    pre_df = prefix.groupBy("shingle").count()
    est_row = pre_df.agg(
        F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("p")).first()
    return float(est_row["p"] or 0.0), pre_df


def ppjoin_candidate_bound(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", threshold: float = 0.5,
                           shingle_n: int = 2,
                           guard_sample: float = 1.0) -> float:
    """Standalone pre-flight for similarity_join capacity planning:
    upper bound on the candidate-pair volume, sum C(df_prefix, 2) over
    prefix-shingle document frequencies — exact at the default
    ``guard_sample=1.0``; a smaller fraction samples DOCS before
    shingling (the whole pre-flight then costs ~f of a pass) and
    rescales the sampled bound by 1/f^2.  Near-linear growth in corpus
    size is the healthy signature; a superlinear jump between scale
    factors means the (threshold, shingle_n) choice is losing
    selectivity on this corpus and the verify join will blow up
    first."""
    g = df if guard_sample >= 1.0 else df.sample(fraction=guard_sample,
                                                 seed=7)
    _, _, prefix = _ppjoin_prefix(g, text_col, id_col, threshold,
                                  shingle_n)
    est, _ = _ppjoin_bound_of_prefix(prefix)
    if guard_sample < 1.0:
        est /= guard_sample ** 2
    return est


def similarity_join(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", threshold: float = 0.5,
                    shingle_n: int = 2,
                    max_candidate_pairs: int | None = None,
                    guard_sample: float = 0.1,
                    on_blowup: str = "warn") -> DataFrame:
    """Exact set-similarity self-join with COMPLETE recall (AllPairs /
    PPJoin prefix filtering; Bayardo et al. WWW'07, Xiao et al.
    WWW'08): every pair of documents whose word-``shingle_n``-gram
    Jaccard is >= ``threshold`` — no O(n^2) pair space and, unlike
    MinHash LSH, no false negatives.

    Plan: (1) distinct shingles per doc; (2) global shingle document
    frequency (one hash agg); (3) per-doc shingle order by
    (df asc, shingle asc) — rarest first.  A pair with J >= t must
    share a shingle inside the first ``|d| - ceil(t*|d|) + 1`` shingles
    of each side's order, so only that PREFIX enters the candidate
    join; (4) candidates = prefix self-equi-join on the shingle plus
    the Jaccard length filter ``min(|a|,|b|) >= t*max(|a|,|b|)``;
    (5) exact intersection-count verification of the candidates only.

    Scale: prefix keys are the *rare* end of the df spectrum by
    construction — hot boilerplate shingles sort last and never enter a
    prefix — so the candidate equi-join is skew-resistant; df and
    intersection counts partial-aggregate map-side; the only window
    partitions by doc id (bounded by document length).  Returns
    (id_a, id_b, n_a, n_b, n_inter, jaccard), id_a < id_b.

    Candidate-volume guard: prefix filtering keeps the pair space
    near-linear on natural text, but a LOW-ENTROPY corpus (tiny
    vocabulary, templated rows) can make even prefix shingles common,
    and the candidate set Σ C(df_prefix, 2) silently explodes.  When
    ``max_candidate_pairs`` is set, a pre-flight aggregate computes
    that upper bound from the prefix-shingle document frequencies and
    — naming the estimate and the worst shingles — either warns
    (``on_blowup="warn"``) or raises BEFORE the verify join runs
    (``on_blowup="raise"``, the right setting for an unattended
    pipeline that should stop rather than OOM hours later).  The
    default ``guard_sample=0.1`` runs the pre-flight on a 10% DOC
    sample (cost ~10% of one shingle/window pass; the quadratic pair
    bound rescales by 1/f^2); ``guard_sample=1.0`` makes the bound
    exact.

    The guard defaults OFF (``max_candidate_pairs=None``) so this
    function stays LAZY like every other plan builder — enabling it
    runs Spark jobs (sample + shingle + aggregate) at CALL time, before
    the returned DataFrame is ever executed.  Pipeline entry points
    that execute the join immediately should opt in; capacity planning
    without constructing the join uses ``ppjoin_candidate_bound``.
    Cost note: at SMALL corpora the pre-flight is dominated by fixed
    multi-stage scheduling overhead (~2 s on local[32] at sf0.1,
    roughly half a full join there), NOT data volume — the sampled
    data cost is ~guard_sample of one shingle/window pass, so the
    overhead fraction shrinks as the corpus grows, which is exactly
    where the guard matters.  The returned plan itself is unchanged
    either way.
    """
    if on_blowup not in ("warn", "raise"):
        raise ValueError(f"on_blowup must be 'warn' or 'raise', "
                         f"got {on_blowup!r}")
    sh, sizes, prefix = _ppjoin_prefix(df, text_col, id_col, threshold,
                                       shingle_n)
    if max_candidate_pairs is not None:
        import warnings
        if guard_sample < 1.0:
            # sample DOCS before shingling: the pre-flight then costs
            # ~guard_sample of one shingle/window pass, and the
            # sampled pair bound rescales by 1/f^2 (quadratic in df)
            _, _, gprefix = _ppjoin_prefix(
                df.sample(fraction=guard_sample, seed=7),
                text_col, id_col, threshold, shingle_n)
        else:
            gprefix = prefix
        est, pre_df = _ppjoin_bound_of_prefix(gprefix)
        if guard_sample < 1.0:
            est /= guard_sample ** 2
        if est > max_candidate_pairs:
            # second (rare-path-only) job: name the offenders
            pdf_top = (pre_df.filter(F.col("count") > 1)
                       .select("shingle",
                               (F.col("count") * (F.col("count") - 1) / 2)
                               .alias("pairs"))
                       .orderBy(F.col("pairs").desc()).limit(5).collect())
            top = ", ".join(f"{r['shingle']!r}~{int(r['pairs'])}"
                            for r in pdf_top)
            msg = (
                "similarity_join: prefix-shingle candidate bound "
                f"~{est:.3g} pairs exceeds max_candidate_pairs="
                f"{max_candidate_pairs:.3g} — the corpus is low-entropy "
                "for this (threshold, shingle_n); the verify join may "
                f"explode.  Worst prefix shingles: {top}.  Raise "
                "threshold / shingle_n, pre-dedup with dedup_exact, or "
                "use minhash_lsh_pairs for probabilistic recall.")
            if on_blowup == "raise":
                raise RuntimeError(msg)
            warnings.warn(msg, stacklevel=2)
    a = prefix.select(F.col("id").alias("id_a"),
                      F.col("n_sh").alias("n_a"), "shingle")
    b = prefix.select(F.col("id").alias("id_b"),
                      F.col("n_sh").alias("n_b"), "shingle")
    cand = (a.join(b, "shingle")
            .filter((F.col("id_a") < F.col("id_b"))
                    & (F.least("n_a", "n_b")
                       >= F.lit(threshold) * F.greatest("n_a", "n_b")))
            .select("id_a", "id_b").distinct())
    sh_a = sh.select(F.col("id").alias("id_a"), "shingle")
    sh_b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (cand.join(sh_a, "id_a").join(sh_b, ["id_b", "shingle"])
             .groupBy("id_a", "id_b").agg(F.count("*").alias("n_inter")))
    out = (inter
           .join(sizes.select(F.col("id").alias("id_a"),
                              F.col("n_sh").alias("n_a")), "id_a")
           .join(sizes.select(F.col("id").alias("id_b"),
                              F.col("n_sh").alias("n_b")), "id_b")
           .withColumn("jaccard",
                       F.col("n_inter")
                       / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
           .filter(F.col("jaccard") >= threshold))
    return out.select("id_a", "id_b", "n_a", "n_b", "n_inter", "jaccard")


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            n_bits: int = 48) -> DataFrame:
    """(id, simhash bigint): per-token 48-bit hash (from md5 hex),
    bitwise weighted vote, sign -> bit.  Pure expressions: explode
    tokens, 48 conditional sums, reassemble — all codegen'd.
    """
    from xgboost_spark.operators.util import ensure_parallelism
    d = ensure_parallelism(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt")))
    tok = d.select(
        "id",
        F.explode(F.split(F.lower(F.col("txt")), r"\s+")).alias("t"),
    ).filter(F.length("t") > 0)
    from xgboost_spark.operators.util import md5_h48
    tok = tok.withColumn("th", md5_h48(F.col("t")))
    aggs = []
    for j in range(n_bits):
        bit = F.floor(F.col("th") / F.lit(2 ** j)) % 2
        aggs.append(F.sum(bit * 2 - 1).alias(f"s{j}"))
    votes = tok.groupBy("id").agg(*aggs)
    sig = F.lit(0).cast("bigint")
    for j in range(n_bits):
        sig = sig + F.when(F.col(f"s{j}") > 0, F.lit(2 ** j)).otherwise(F.lit(0)).cast("bigint")
    return votes.select("id", sig.alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       n_bits: int = 48, bands: int = 4, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: band the signature into ``bands``
    chunks (Hamming-LSH: distance <= bands-1 guarantees a shared band),
    bucket-join, verify exact Hamming distance <= max_hamming.
    """
    sig = simhash(df, text_col, id_col, n_bits)
    chunk = n_bits // bands
    band_cols = [
        (F.floor(F.col("simhash") / F.lit(2 ** (b * chunk))) % F.lit(2 ** chunk)).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select("id", "simhash", F.posexplode(F.array(*band_cols)).alias("band", "bucket"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("sh_a"), F.col("b.simhash").alias("sh_b"))
        .distinct()
    )
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    ham = sum((F.floor(xor / F.lit(2 ** j)) % 2 for j in range(n_bits)), F.lit(0))
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_near_pairs(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
                         threshold: float = 0.95, n_planes: int = 8, seed: int = 42,
                         brute_force: bool = False) -> DataFrame:
    """Embedding cosine near-duplicates.  Scale path: random-hyperplane
    LSH buckets (sign signature) so only same-bucket pairs are compared;
    ``brute_force=True`` compares all pairs (oracle/baseline).
    """
    import numpy as np

    norm = F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x * x))
    d = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                  norm.alias("nrm")).filter(F.col("nrm") > 0)
    if not brute_force:
        # the dim probe runs a job — only the LSH branch needs it, so
        # brute_force construction stays fully lazy (and empty-input
        # safe)
        dim = len(df.select(vec_col).first()[0])
        rng = np.random.default_rng(seed)
        planes = rng.normal(size=(n_planes, dim))
        sig = F.concat(*[
            F.when(
                F.aggregate(
                    F.zip_with(F.col("v"), F.array(*[F.lit(float(p[j])) for j in range(dim)]),
                               lambda x, y: x * y),
                    F.lit(0.0), lambda acc, x: acc + x,
                ) > 0, F.lit("1")).otherwise(F.lit("0"))
            for p in planes
        ])
        d = d.withColumn("bucket", sig)
        join_cond = (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id"))
    else:
        join_cond = F.col("a.id") < F.col("b.id")
    a, b = d.alias("a"), d.alias("b")
    dot = F.aggregate(F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    return (
        a.join(b, join_cond)
        .withColumn("cos", dot / (F.col("a.nrm") * F.col("b.nrm")))
        .filter(F.col("cos") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cos")
    )


def segment_dedup(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", seg_words: int = 10) -> DataFrame:
    """Sub-document exact dedup at fixed word-window granularity (the
    scalable stand-in for suffix-array substring dedup, cf. Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better"):
    split each document into consecutive ``seg_words``-word segments,
    give each distinct segment string ONE owner (the globally first
    occurrence by (doc id, position)), and report the per-document
    duplicate-segment fraction.

    Ownership is a packed-decimal ``min(id, seg_idx)`` HashAggregate on
    the segment string — NOT a row_number window: at 100 TB the
    duplicate multiplicity of a hot boilerplate segment (cookie banner,
    license footer) IS the skew, and a window would funnel all of its
    occurrences into one sorting task; the aggregate partial-combines
    it to one row per input partition map-side.

    Round-14 optimization: the operator only needs per-document COUNTS,
    never the marked per-instance rows, so the witness join-back (and
    with it the second computation of the whole explode pipeline — the
    same multi-consumer recompute shape as duplicate_spans', which a
    join-back-based plan pays because per-branch column pruning defeats
    exchange reuse) is gone entirely: the owner document is DECODED
    from the packed min key (floor division via ``(_kf_f - pmod) div
    2^31`` — exact for the full signed-long id range, including
    negative hashed ids), ``n_owned`` is a count over the
    witness (one row per DISTINCT segment), and ``n_segs`` is
    ``size(segs)`` computed on the UN-exploded source.  One explode,
    one segment-key shuffle, one metadata-sized per-doc join — the
    per-instance join-back shuffle at corpus scale is removed.
    Precondition unchanged from keep_first: (id, seg_idx) unique per
    row (duplicate doc ids shared the ownership mark before and under-
    count it now).  Non-integral ids keep the window fallback.  Returns
    (id, n_segs, n_owned, dup_frac).
    """
    from xgboost_spark.operators.util import (_PACK_POS_MOD, KF_FIRST,
                                              _is_integral, keep_first)
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    n_segs = F.ceil(F.size(words) / float(seg_words)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(
            F.slice(words, i * seg_words + 1, seg_words), " "))
    src = df.select(F.col(id_col).alias("id"), segs.alias("_segs"))
    e = src.select("id", F.posexplode("_segs").alias("seg_idx", "seg"))
    if not _is_integral(src, "id"):
        owned = keep_first(e, "seg", "id", pos_col="seg_idx")
        return (owned.groupBy("id")
                .agg(F.count("*").cast("bigint").alias("n_segs"),
                     F.sum(F.col(KF_FIRST).cast("int")).cast("bigint")
                     .alias("n_owned"))
                .withColumn("dup_frac",
                            F.round(1.0 - F.col("n_owned") / F.col("n_segs"),
                                    6)))
    id_type = src.schema["id"].dataType
    pk = (F.col("id").cast("decimal(38,0)")
          * F.lit(_PACK_POS_MOD).cast("decimal(38,0)")
          + F.col("seg_idx").cast("decimal(38,0)"))
    # one row per DISTINCT segment; a null-id group's min is null (min
    # skips nulls) and is dropped — the null-id doc's n_owned is pinned
    # NULL below, matching the join-back form's null-comparison sum
    # decode with FLOOR semantics: Spark's `div` truncates toward zero,
    # which mis-decodes NEGATIVE ids (min pk for id=-1,seg_idx=3 is
    # -2^31+3; truncating div gives 0, a phantom doc).  pmod() makes the
    # numerator exactly divisible, so the div is exact for any long id.
    owned_cnt = (e.groupBy("seg").agg(F.min(pk).alias("_kf_f"))
                 .filter(F.col("_kf_f").isNotNull())
                 .select(F.expr(f"(_kf_f - pmod(_kf_f, {_PACK_POS_MOD}))"
                                f" div {_PACK_POS_MOD}")
                         .cast(id_type).alias("id"))
                 .groupBy("id")
                 .agg(F.count("*").cast("bigint").alias("_owned")))
    # explode-count parity without the explode: posexplode emits
    # size(_segs) rows and emits none for null arrays, so filtering
    # size > 0 keeps exactly the ids the exploded stream carries
    docs = (src.select("id", F.size("_segs").alias("_n"))
            .filter(F.col("_n") > 0)
            .groupBy("id")
            .agg(F.sum("_n").cast("bigint").alias("n_segs")))
    return (docs.join(owned_cnt, ["id"], "left")
            .select("id", "n_segs",
                    F.when(F.col("id").isNull(),
                           F.lit(None).cast("bigint"))
                    .otherwise(F.coalesce(F.col("_owned"),
                                          F.lit(0).cast("bigint")))
                    .alias("n_owned"))
            .withColumn("dup_frac",
                        F.round(1.0 - F.col("n_owned") / F.col("n_segs"),
                                6)))


def _span_gram_hashes(df: DataFrame, text_col: str, id_col: str,
                      k: int) -> DataFrame:
    """(id, pos, gh) 48-bit md5 keys of every length-k char gram —
    shared by duplicate_spans / strip_duplicate_spans.  The hashes are
    computed INSIDE one transform() over the position array BEFORE the
    explode, so Generate materializes only (id, int-array element)
    rows; exploding first and hashing after would copy the full
    document text into every one of its len(text) generated rows."""
    from xgboost_spark.operators.util import ensure_parallelism, md5_h48
    # parallelize the SOURCE, not the exploded result: the per-char md5
    # transform is the expensive part, and an Exchange placed after it
    # would leave all the hashing on however few partitions the scan
    # yields (a single-row-group file = one core doing every hash)
    src = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
        .filter(F.length("t") >= k))
    harr = F.transform(
        F.sequence(F.lit(1), F.length("t") - (k - 1)),
        lambda i: md5_h48(F.concat(F.lit("span:"),
                                   F.col("t").substr(i, F.lit(k)))))
    return (src.select("id", F.posexplode(harr).alias("p0", "gh"))
            .select("id", (F.col("p0") + 1).alias("pos"), "gh"))


def duplicate_spans(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 20,
                    min_count: int = 2,
                    max_gram_count: int | None = None) -> DataFrame:
    """Span-level EXACT substring deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — public
    paper): for every document, the maximal character spans covered by
    length-``k`` substrings occurring at least ``min_count`` times in
    the corpus.  Any duplicated substring of length >= k contains a
    duplicated k-gram, so the union of duplicated-gram positions is
    EXACTLY the character set inside duplicated substrings of length
    >= k — the suffix-array-free reduction (the reference paper builds
    a suffix array; a distributed engine gets the same answer from one
    gram shuffle).  Catches repeats across documents AND within one
    document (occurrences are counted, not distinct docs).

    Plan shape, sized for 100 TB: explode to (id, pos, gram-hash) where
    the gram key is the repo's 48-bit md5 (8 bytes of shuffle state per
    character instead of k — and SQL-replayable, which is what makes
    the `dup_spans` oracle possible; raise to more hex chars if 48-bit
    collision over-marking ever matters at corpus scale), one
    HashAggregate for occurrence counts, a semi-join back, then
    per-document gaps-and-islands interval merging under a PARTITIONED
    window (no global sort).  Returns (id, span_start, span_end) with
    1-based [start, end) character offsets, plus span_chars.

    ``max_gram_count`` (default off) bounds the worst case: a
    pathological gram occurring more often than the cap (a repeated
    license header, a whitespace run) is — by definition — duplicated,
    so its hashes are collected to the driver (the set of such grams
    is tiny by construction) and its occurrences are marked via a
    map-side ``isin`` WITHOUT ever shuffling on the gram key.  Output
    is identical to the uncapped run; only the plan routing changes.
    """
    # the gram set feeds both the occurrence-count aggregate and the
    # position probe; per-branch column pruning makes the two copies
    # canonically different (same pushdown failure as
    # strip_duplicate_spans' measured-and-rejected shared exchange), so
    # without a barrier the per-char md5 explode — the expensive part —
    # runs once per consumer.  A lazy localCheckpoint computes it once;
    # the stored copy is the same narrow (id, pos, gh) rows the gh
    # probe join shuffles anyway, so the storage footprint is on par
    # with the plan's own biggest exchange, traded for a whole
    # scan+explode+md5 pass per avoided recompute.
    grams = _lazy_local_checkpoint(_span_gram_hashes(df, text_col, id_col, k))
    cnts = grams.groupBy("gh").agg(F.count("*").alias("cnt"))
    if max_gram_count is not None:
        hot = [r["gh"] for r in
               cnts.filter(F.col("cnt") > max_gram_count)
               .select("gh").collect()]
        dups = (cnts.filter((F.col("cnt") >= min_count) &
                            (F.col("cnt") <= max_gram_count)).select("gh"))
        cold_hits = (grams.filter(~F.col("gh").isin(hot) if hot else F.lit(True))
                     .join(dups, "gh", "left_semi")
                     .select("id", "pos", (F.col("pos") + k).alias("e")))
        if hot:
            hot_hits = (grams.filter(F.col("gh").isin(hot))
                        .select("id", "pos", (F.col("pos") + k).alias("e")))
            hits = cold_hits.unionByName(hot_hits)
        else:
            hits = cold_hits
    else:
        dups = cnts.filter(F.col("cnt") >= min_count).select("gh")
        hits = (grams.join(dups, "gh", "left_semi")
                .select("id", "pos", (F.col("pos") + k).alias("e")))
    w = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    isl = (hits
           .withColumn("ni", F.when(F.col("pos") > F.coalesce(prev_end, F.lit(0)),
                                    1).otherwise(0))
           .withColumn("island",
                       F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0))))
    return (isl.groupBy("id", "island")
            .agg(F.min("pos").cast("bigint").alias("span_start"),
                 F.max("e").cast("bigint").alias("span_end"))
            .select("id", "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start"))
                    .cast("bigint").alias("span_chars")))


def strip_duplicate_spans(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 20,
                          min_count: int = 2,
                          max_gram_count: int | None = None) -> DataFrame:
    """Remove duplicated substrings, keeping first occurrences (the
    Lee et al. 2022 dedup step that follows span marking): for each
    duplicated k-gram the globally FIRST occurrence — min (id, pos) —
    survives; every character covered only by later occurrences is cut
    from its document.  The policy is defined at gram granularity so it
    is deterministic and SQL-replayable (the `strip_spans` oracle): the
    lowest-id document keeps its text, later copies lose the shared
    span.

    Keep-first is computed WITHOUT a per-gram sort window: a
    ``row_number() OVER (PARTITION BY gh ORDER BY id, pos)`` funnels
    every occurrence of one gram into a single task and SORTS it — a
    hot boilerplate gram (license header, whitespace run) occurring
    10^8-10^9 times at corpus scale becomes one straggler.  Instead the
    first occurrence is ``min(id * 2^31 + pos)`` over a DECIMAL(38,0)
    packed key — the packing is strictly order-preserving for
    lexicographic (id, pos) whenever 0 <= pos < 2^31 (pos is a 1-based
    character offset, always is), and unlike ``min(struct(...))``
    (which Spark can only SortAggregate) a decimal min compiles to a
    partial-aggregable HashAggregate whose map-side combine collapses
    a hot gram to one row per input partition BEFORE the shuffle.  The
    witness is joined back (hash join, no sort) to drop exactly that
    minimum.  Bit-identical keep-first semantics; the occurrence-count
    filter folds into the same aggregate, so the plan is actually one
    job SHORTER than the old semi-join + window.  Islands then merge removal intervals
    per-document, and a pure higher-order-function rebuild
    (F.aggregate over the sorted span list concatenating the kept
    segments) emits the text — no Python row loop, and the per-doc
    span list is bounded by the doc's own duplicate content.
    Returns (id, text, text_stripped, removed_chars).

    ``max_gram_count`` (default off) caps the shuffle of a pathological
    gram: occurrences above the cap are treated as always-duplicate —
    EVERY occurrence is stripped, including the global first, so the
    keep-first witness never has to shuffle 10^9 rows of one key.  The
    hot gram hashes (tiny set by construction) are collected and routed
    map-side via ``isin``.  This is the ONE deliberate semantic change
    the cap makes, and only for grams above it.
    """
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    # Measured and rejected (round-14 optimization pass): a
    # repartition("gh") shared by the aggregate and the probe join.  In
    # principle one raw-gram exchange could feed both consumers
    # (ReusedExchange) and halve the explode work; in practice column
    # pruning pushes DIFFERENT projections below the exchange per branch
    # (the probe needs id/pos/pk, the aggregate only gh/pk), the
    # children stop canonicalizing equal, AQE reuses nothing, and the
    # aggregate's exchange grows from partial-agg rows to raw
    # occurrences.  What DOES work (same pass, second attempt) is the
    # similarity_join lazy-localCheckpoint barrier: the gram pipeline —
    # whose per-char md5 transform is the expensive part — computes
    # ONCE per action and both consumers read the stored narrow
    # (id, pos, gh) rows, the same rows the gh probe join shuffles
    # anyway, so storage is on par with the plan's own biggest
    # exchange, traded for a whole scan+explode+md5 pass.
    grams = _lazy_local_checkpoint(_span_gram_hashes(df, text_col, id_col, k))
    # order-preserving (id, pos) -> decimal pack: HashAggregate-able min
    pk = (F.col("id").cast("decimal(38,0)")
          * F.lit(2147483648).cast("decimal(38,0)")
          + F.col("pos").cast("decimal(38,0)"))
    # one aggregate carries BOTH the duplicate filter and the keep-first
    # witness; min(packed) partial-combines map-side (no skewed sort)
    agg = grams.groupBy("gh").agg(F.count("*").alias("cnt"),
                                  F.min(pk).alias("f"))
    firsts = (agg.filter(F.col("cnt") >= min_count)
              .select("gh", "f"))
    probe = grams
    hot: list = []
    if max_gram_count is not None:
        hot = [r["gh"] for r in
               agg.filter(F.col("cnt") > max_gram_count)
               .select("gh").collect()]
        if hot:
            firsts = (agg.filter((F.col("cnt") >= min_count) &
                                 (F.col("cnt") <= max_gram_count))
                      .select("gh", "f"))
            probe = grams.filter(~F.col("gh").isin(hot))
    # shuffle_hash: build the tiny one-row-per-gram side, STREAM the
    # occurrence side — a sort-merge join would re-introduce the hot-key
    # sort this rewrite removes
    later = (probe.withColumn("pk", pk)
             .join(firsts.hint("shuffle_hash"), "gh")
             .filter(F.col("pk") != F.col("f"))
             .select("id", "pos", (F.col("pos") + k).alias("e")))
    if hot:
        later = later.unionByName(
            grams.filter(F.col("gh").isin(hot))
            .select("id", "pos", (F.col("pos") + k).alias("e")))
    w = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    spans = (later
             .withColumn("ni", F.when(F.col("pos") > F.coalesce(prev_end, F.lit(0)),
                                      1).otherwise(0))
             .withColumn("isl",
                         F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0)))
             .groupBy("id", "isl")
             .agg(F.min("pos").alias("s"), F.max("e").alias("e")))
    by_doc = spans.groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("sp"))
    j = src.join(by_doc, "id", "left")
    acc0 = F.struct(F.lit(1).cast("int").alias("p"),
                    F.lit("").alias("out"))
    stripped = F.aggregate(
        F.coalesce(F.col("sp"), F.array().cast("array<struct<s:int,e:int>>")),
        acc0,
        lambda acc, x: F.struct(
            x["e"].cast("int").alias("p"),
            F.concat(acc["out"],
                     F.col("t").substr(acc["p"], x["s"] - acc["p"])).alias("out")),
        lambda acc: F.concat(
            acc["out"],
            F.col("t").substr(acc["p"], F.length("t") - acc["p"] + 1)))
    return j.select(
        "id", F.col("t").alias("text"), stripped.alias("text_stripped"),
        (F.length("t") - F.length(stripped)).cast("bigint")
        .alias("removed_chars"))

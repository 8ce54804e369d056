"""Shared operator utilities."""

from __future__ import annotations

import math
import warnings

from pyspark.sql import DataFrame, Window


# SQL text for projections built on the driver: every Column-API call
# (F.col, .cast, .alias, ...) is a dozen py4j round trips, so a
# per-column projection is written as SQL text and parsed once
# (selectExpr / filter / F.expr) instead.

def sql_ident(name: str) -> str:
    """A column name as a Spark SQL identifier: backtick-quoted, with any
    backtick doubled, so a dot, space or backtick stays part of the
    name (``F.col("a.b")`` reads field ``b`` of a struct ``a``)."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """A string as a Spark SQL string literal: single-quoted, with
    backslash and quote escaped (the parser unescapes both)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_double(x) -> str:
    """A double as Spark SQL text that parses back to the same value."""
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"


def sql_null_if(e: str, value) -> str:
    """SQL text of ``e`` with the values equal to ``value`` (a missing
    sentinel) turned into a DOUBLE NULL.  Spark's ``=`` holds for
    NaN = NaN and for 0.0 = -0.0."""
    return (f"CASE WHEN {e} = {sql_double(value)} "
            f"THEN CAST(NULL AS DOUBLE) ELSE {e} END")


def ensure_parallelism(df: DataFrame, min_fraction: float = 0.5) -> DataFrame:
    """Round-robin repartition a DataFrame whose scan yields fewer
    partitions than the session can run in parallel.

    At production scale this is a no-op: a large table scans as
    thousands of splits, and adding a shuffle there would be pure waste.
    It matters for small/single-row-group files (parquet can only split
    at row-group boundaries), where otherwise every downstream per-row
    computation — hashing, shingling, binning, vector math — serializes
    onto one core while the rest of the cluster idles.  The repartition
    cost is tiny exactly when this triggers (the input is small).
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, int(n * min_fraction)):
        return df.repartition(n)
    return df


# Columns appended by keep_first (reserved names — inputs must not
# carry them).
KF_FIRST = "_kf_first"    # boolean: row is its group's first occurrence
KF_CNT = "_kf_cnt"        # bigint: group occurrence count
KF_MIN_ID = "_kf_min_id"  # group's first id (only when pos_col is None)

# pos packing modulus: pos must satisfy 0 <= pos < 2^31 for the packed
# key to preserve lexicographic (id, pos) order.  pos is a non-negative
# character / segment offset (1-based char pos from instr/locate, or
# 0-based seg_idx from posexplode), so the bound is a 2 GiB single-row
# text — unreachable in practice, asserted nowhere.
_PACK_POS_MOD = 2_147_483_648


def _is_integral(df: DataFrame, col: str) -> bool:
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType
    return isinstance(df.schema[col].dataType,
                      (ByteType, ShortType, IntegerType, LongType))


def keep_first(df: DataFrame, key_cols, id_col: str,
               pos_col: str | None = None,
               min_group_count: int = 1) -> DataFrame:
    """Skew-proof keep-first marking: flag each group's globally first
    occurrence by (id[, pos]) WITHOUT a per-group sort window.

    A ``row_number() OVER (PARTITION BY key ORDER BY id, pos)`` funnels
    every occurrence of one hot key (an empty document, a boilerplate
    segment, a license-header gram — 10^8-10^9 occurrences at corpus
    scale) into a single sorting task.  Instead the first occurrence is
    ``min(id * 2^31 + pos)`` over an order-preserving DECIMAL(38,0)
    packed key: unlike ``min(struct(...))`` (which Spark can only
    SortAggregate) a decimal min compiles to a partial-aggregable
    HashAggregate whose map-side combine collapses a hot key to one row
    per input partition BEFORE the shuffle; the witness is joined back
    null-safely — with a ``shuffle_hash`` hint when
    ``min_group_count > 1`` filters it down to the duplicated groups
    (genuinely tiny build side), unhinted otherwise, because at
    ``min_group_count=1`` the witness is one row per DISTINCT key
    (near input cardinality on a mostly-unique corpus) and a
    shuffled-hash build cannot spill; there AQE's skew-join split
    keeps a hot key out of a single sort task.  This is the
    pattern that fixed strip_duplicate_spans' hot-gram straggler in
    round 6, extracted because three sibling operators had grown the
    same skewed window independently.

    Appends to ``df``:
      ``_kf_first``  boolean — row is the group's first by (id[, pos])
      ``_kf_cnt``    bigint  — occurrences in the row's group
      ``_kf_min_id`` (pos_col=None only) — the group's first id

    ``min_group_count``: groups with fewer occurrences are DROPPED from
    the output entirely (the witness side is filtered before the
    join-back, so non-duplicate groups never widen the joined stream).

    NULL key values form a group of their own (groupBy groups NULLs;
    the join-back is null-safe), matching the window fallback's
    ``partitionBy`` semantics — a corpus's null-text rows keep exactly
    one representative instead of silently vanishing through a
    null-dropping inner equi-join.

    Precondition: ``(id[, pos])`` is unique per row.  Rows TIED on the
    packed key (duplicate doc ids) are ALL marked ``_kf_first`` —
    ``min``-vs-self cannot single one out the way ``row_number`` does;
    callers that dedup on ``_kf_first`` must guarantee unique ids.

    Non-integral ``id_col``/``pos_col`` (string doc ids are common in
    corpus pipelines) fall back to the window-based keep-first —
    correct for any orderable type, but skew-prone on hot keys; a
    warning says so once.
    """
    from pyspark.sql import functions as F
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    integral = _is_integral(df, id_col) and (
        pos_col is None or _is_integral(df, pos_col))
    if not integral:
        warnings.warn(
            f"keep_first: id column {id_col!r} (or pos column) is not "
            "an integral type — falling back to the window-based "
            "keep-first, which funnels every occurrence of a hot key "
            "into one sorting task at scale; prefer integral ids",
            stacklevel=2)
        order = [F.col(id_col)] + ([F.col(pos_col)] if pos_col else [])
        wo = Window.partitionBy(*keys).orderBy(*order)
        wp = Window.partitionBy(*keys)
        out = (df.withColumn("_kf_rn", F.row_number().over(wo))
               .withColumn(KF_FIRST, F.col("_kf_rn") == 1)
               .withColumn(KF_CNT, F.count("*").over(wp))
               .drop("_kf_rn"))
        if pos_col is None:
            out = out.withColumn(KF_MIN_ID, F.min(id_col).over(wp))
        if min_group_count > 1:
            out = out.filter(F.col(KF_CNT) >= min_group_count)
        return out
    pk = F.col(id_col).cast("decimal(38,0)")
    if pos_col is not None:
        pk = (pk * F.lit(_PACK_POS_MOD).cast("decimal(38,0)")
              + F.col(pos_col).cast("decimal(38,0)"))
    agg = df.groupBy(*keys).agg(F.count("*").alias(KF_CNT),
                                F.min(pk).alias("_kf_f"))
    if min_group_count > 1:
        agg = agg.filter(F.col(KF_CNT) >= min_group_count)
        # shuffle_hash: the filtered witness (duplicated groups only)
        # is genuinely tiny, so build it and STREAM the occurrence
        # side — sort-merge would re-introduce the hot-key sort this
        # helper exists to remove
        agg = agg.hint("shuffle_hash")
    # else: UNhinted.  With min_group_count=1 the witness is one row
    # per DISTINCT key — near input cardinality on a mostly-unique
    # corpus — and a shuffled-hash build side cannot spill; let
    # Catalyst/AQE pick (SMJ spills, and AQE skew-join splits a hot
    # key's partition, so the straggler class stays fixed either way).
    #
    # Null-safe join: md5(NULL) is NULL, and an inner equi-join on the
    # key would silently drop every null-keyed row (the window fallback
    # keeps them) — alias the witness keys and join with eqNullSafe so
    # the NULL group keeps its representative.  Spark still extracts
    # <=> as a hash-join key (coalesce+isnull pair), so the plan shape
    # is unchanged.
    witness = agg.select(
        *[F.col(k).alias(f"_kf_w{i}") for i, k in enumerate(keys)],
        KF_CNT, "_kf_f")
    cond = None
    for i, k in enumerate(keys):
        c = F.col(k).eqNullSafe(F.col(f"_kf_w{i}"))
        cond = c if cond is None else (cond & c)
    out = (df.withColumn("_kf_pk", pk)
           .join(witness, cond)
           .drop(*[f"_kf_w{i}" for i in range(len(keys))])
           .withColumn(KF_FIRST, F.col("_kf_pk") == F.col("_kf_f")))
    if pos_col is None:
        out = out.withColumn(KF_MIN_ID,
                             F.col("_kf_f").cast(df.schema[id_col].dataType))
    return out.drop("_kf_pk", "_kf_f")


def md5_h48(col) -> "object":
    """48-bit integer hash from the first 12 hex chars of md5 —
    replayable as ('0x' || substr(md5(x), 1, 12))::BIGINT in any SQL
    engine, which is why the dedup/sampling/sketch families all key on
    it.  Callers bake their own salt into ``col`` (usually
    F.concat(F.lit(salt), x)); the 48-bit width fits a double exactly,
    so downstream arithmetic is engine-exact too."""
    from pyspark.sql import functions as F
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint")

"""String-categorical ordinal encoding.

The reference accepts string/dictionary categorical columns directly and
recodes them against a stored training-time dictionary
(`src/encoder/ordinal.h:30-31,349` CatStrArrayView / Recode;
`CatContainer` keeps the dictionary in the model).  Spark-first form:
the dictionary is a sorted-distinct aggregation (map-side partial agg,
one tiny collect), and recoding is a Catalyst map-literal lookup — pure
JVM, no UDF, unknown categories become NULL and flow down the tree's
learned missing direction like the reference's invalid-category path
(`src/common/categorical.h:42` InvalidCat -> default left).

Contract: dictionaries are collected to the driver and inlined into the
plan, so per-column cardinality should be modest (<= ~64K entries, the
same practical bound a GBDT categorical split has); cardinality beyond
that wants a broadcast-join recode instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xgboost_spark.operators.util import sql_double, sql_ident, sql_str


def fit_ordinal_encoder(df: DataFrame, cols: list[str]) -> dict[str, list[str]]:
    """Sorted-distinct dictionary per column, one aggregation for all
    columns (collect_set partial-aggregates map-side; result size is
    sum of cardinalities, not rows)."""
    if not cols:
        return {}
    row = df.agg(*[
        F.sort_array(F.collect_set(F.col(sql_ident(c)).cast("string"))).alias(c)
        for c in cols
    ]).first()
    return {c: [str(v) for v in row[c]] for c in cols}


def encode_col(name: str, categories: list[str]) -> Column:
    """Column ``name`` -> ordinal code as a map-literal lookup;
    unknowns -> NULL (missing).  One SQL parse, however many categories
    (a Column-API map costs py4j round trips per entry)."""
    if not categories:
        return F.expr("CAST(NULL AS DOUBLE)")
    pairs = ", ".join(f"{sql_str(v)}, {sql_double(code)}"
                      for code, v in enumerate(categories))
    return F.expr(f"CAST(map({pairs})[CAST({sql_ident(name)} AS STRING)] "
                  "AS DOUBLE)")


def encode_ordinal(df: DataFrame, mapping: dict[str, list[str]],
                   only_string: bool = True) -> DataFrame:
    """Recode every mapped column present in ``df``.  With
    ``only_string`` (the predict-side default), numeric columns are left
    alone — they are assumed to already hold ordinal codes."""
    dt = dict(df.dtypes)
    out = df
    for c, cats in mapping.items():
        if c not in dt:
            continue
        if only_string and dt[c] != "string":
            continue
        out = out.withColumn(c, encode_col(c, cats))
    return out

"""Dataset loading and feature-matrix assembly.

The reference ingests data through adapters into a `DMatrix`
(reference `include/xgboost/data.h:549`, `src/data/adapter.h`).  On
Spark the DataFrame *is* the DMatrix: features live in ordinary columns
(or one array column), and the `MetaInfo` side-channels
(label/weight/base_margin/qid — reference `include/xgboost/data.h:65`)
are just more columns on the same DataFrame.  Parquet/CSV/libsvm readers
replace the dmlc text parsers (`src/data/data.cc:934-952`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xgboost_spark.operators.util import sql_ident, sql_null_if

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


# harness parquet stores these as TIMESTAMP(NANOS); with
# spark.sql.legacy.parquet.nanosAsLong=true they surface as long
# nanoseconds and are converted here to proper timestamps.
NANO_TS_COLS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


def ensure_event_time(df: DataFrame, col: str) -> DataFrame:
    """Normalize an event-time column to TIMESTAMP so watermarks/windows
    accept it, whatever way the parquet footer was decoded:

    - ``bigint`` (nanosAsLong session conf): nanos -> micros with integer
      DIV (nanos exceed double's 53 bits; matches DuckDB's truncation)
    - ``timestamp_ntz`` (conf not yet set at first footer read): cast to
      session-zone TIMESTAMP — the harness pins the session to UTC, so
      this is a pure type change, not a wall-clock shift
    - ``string``/``date``: plain cast
    """
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        return df.withColumn(col, F.expr(f"timestamp_micros(CAST({col} DIV 1000 AS LONG))"))
    if dt is not None and dt != "timestamp":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in NANO_TS_COLS.get(name, []):
        if c in df.columns:
            df = ensure_event_time(df, c)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def load_libsvm(spark: SparkSession, path: str, num_features: int | None = None) -> DataFrame:
    """libsvm text source (reference URI loading `src/data/data.cc:934-952`)."""
    reader = spark.read.format("libsvm")
    if num_features:
        reader = reader.option("numFeatures", str(num_features))
    return reader.load(path)


def assemble_features(
    df: DataFrame,
    feature_cols: list[str] | None = None,
    array_col: str | None = None,
    label_col: str | None = None,
    weight_col: str | None = None,
    base_margin_col: str | None = None,
    qid_col: str | None = None,
    label_lower_col: str | None = None,
    label_upper_col: str | None = None,
    missing: float | None = None,
) -> tuple[DataFrame, list[str]]:
    """Normalize input into the engine's matrix convention.

    Returns (df, feature_names) where df has one DoubleType column per
    feature named ``f0..f{k-1}`` plus optional ``label``, ``weight``,
    ``base_margin``, ``qid`` columns.  An ``array<float/double>`` column
    (e.g. embeddings) is unpacked into scalar columns — element access is
    a Catalyst expression, so this stays JVM-side and columnar.

    ``missing``: sentinel feature value to treat as missing (reference
    ``DMatrix(..., missing=)``, `c_api.h:221`): matching values become
    NULL, routing those rows down each node's default direction —
    e.g. ``missing=0.0`` reproduces zero-as-missing sparse semantics.
    NaN is always missing.
    """
    # SQL text parsed once by selectExpr: the same expression tree as
    # F.col(c).cast("double").alias(..) at a fraction of the py4j calls
    feats: list[str] = []
    if array_col is not None:
        dt = df.schema[array_col].dataType
        if dt.typeName() == "udt" and getattr(dt, "pyUDT", "").endswith("VectorUDT") \
                or type(dt).__name__ == "VectorUDT":
            # MLlib sparse/dense vectors (the reference's CSR ingestion
            # surface, c_api.h:221): densify JVM-side via vector_to_array
            from pyspark.ml.functions import vector_to_array
            df = df.withColumn(array_col, vector_to_array(F.col(sql_ident(array_col))))
        src = sql_ident(array_col)
        n = len(df.select(src).first()[0])
        feats += [f"element_at({src}, {i + 1})" for i in range(n)]
    feats += [sql_ident(c) for c in feature_cols or []]
    if not feats:
        raise ValueError("no features given")
    names = [f"f{i}" for i in range(len(feats))]
    cols = []
    for e, nm in zip(feats, names):
        d = f"CAST({e} AS DOUBLE)"
        cols.append(f"{d if missing is None else sql_null_if(d, missing)} AS {nm}")
    for c, alias, t in ((label_col, "label", "DOUBLE"),
                        (weight_col, "weight", "DOUBLE"),
                        (base_margin_col, "base_margin", "DOUBLE"),
                        (qid_col, "qid", "BIGINT"),
                        (label_lower_col, "label_lower", "DOUBLE"),
                        (label_upper_col, "label_upper", "DOUBLE")):
        if c:
            cols.append(f"CAST({sql_ident(c)} AS {t}) AS {alias}")
    return df.selectExpr(*cols), names


def lineitem_matrix(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list[str]]:
    """Canonical regression matrix: numeric lineitem cols → y=l_extendedprice."""
    li = load_table(spark, sf_dir, "lineitem")
    return assemble_features(
        li,
        feature_cols=[
            "l_quantity", "l_discount", "l_tax", "l_partkey",
            "l_suppkey", "l_linenumber", "l_orderkey",
        ],
        label_col="l_extendedprice",
    )


def embeddings_matrix(spark: SparkSession, sf_dir: str, binary: bool = False) -> tuple[DataFrame, list[str]]:
    """Embeddings matrix: 64 dense features; label int 0..9 (or binarized)."""
    emb = load_table(spark, sf_dir, "embeddings")
    if binary:
        emb = emb.withColumn("label", (F.col("label") % 2).cast("int"))
    return assemble_features(emb, array_col="embedding", label_col="label")

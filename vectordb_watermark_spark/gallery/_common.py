"""Shared constants and tiny table helpers for the gate-query gallery
(split out of __spark_entry__.py in round 13 — VERDICT r12 #8: the entry
file had grown to 6.4k lines; the driver contract is now a thin registry
and the per-query bodies live in this package)."""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EMB = "{sf}/embeddings.parquet"
KEY = "graft-key"
RATE = 0.1
KNN_K = 16


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _scratch(sf_dir: str, *names: str) -> list[str]:
    """Fresh scratch paths ``<gallery>/.scratch/<name>_<sf dir name>``, one
    per ``name``, each removed first so a run starts clean.  Anchored to
    this package's directory, not the caller's cwd: the query registry may
    be imported from anywhere."""
    scratch = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scratch")
    os.makedirs(scratch, exist_ok=True)
    tag = os.path.basename(str(sf_dir))
    paths = [os.path.join(scratch, f"{name}_{tag}") for name in names]
    for path in paths:
        shutil.rmtree(path, ignore_errors=True)
    return paths


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores TIMESTAMP(MICROS); reading ts with an explicit
    BIGINT schema yields raw epoch-µs, scaled to nanosecond longs (ts_ns
    BIGINT) so event-time arithmetic is integral — exactly reproducible in
    the oracle (epoch_ns)."""
    from vectordb_watermark_spark.streaming.events import read_events

    return read_events(spark, sf_dir + "/events.parquet").withColumnRenamed("ts", "ts_ns")


def _degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordb_watermark_spark.operators import knn as K

    df = _vectors(spark, sf_dir)
    edges = K.knn_edges_exact(df, k=KNN_K)
    return K.in_degrees(df, edges)


#: DuckDB SQL for the exact-kNN degree table over `embeddings` — the oracle
#: twin of operators/knn.knn_edges_exact + in_degrees.
_DEGREES_SQL = f"""
WITH v AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
pairs AS (
  SELECT a.id AS src, b.id AS dst,
         list_sum(list_transform(list_zip(a.e, b.e), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist2
  FROM v a JOIN v b ON a.id <> b.id
),
ranked AS (
  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dist2, dst) AS rk
  FROM pairs
),
deg AS (
  SELECT dst, count(*) AS c FROM ranked WHERE rk <= {KNN_K} GROUP BY dst
)
SELECT v.id AS id, CAST(coalesce(deg.c, 0) AS BIGINT) AS degree
FROM v LEFT JOIN deg ON v.id = deg.dst
"""

_NORM_SQL = "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


def _attacked_norm_sql(emb_expr: str) -> str:
    return f"round(sqrt(list_sum(list_transform({emb_expr}, x -> x * x))), 5) + 0.0"


# ---------------------------------------------------------------------------
# entry: flagship query
# ---------------------------------------------------------------------------


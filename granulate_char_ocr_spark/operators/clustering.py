"""Embedding clustering for corpus curation: nearest-centroid assignment
against deterministic k-means seeds.

Assignment is a pure projection. Centroids are k×d doubles — they travel
to executors as literal expressions, so assigning N vectors is map-side
whole-stage codegen with ZERO shuffle, whatever N is. The only driver
work is collecting the k seed rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def seed_centroids(emb: DataFrame, k: int) -> list[list[float]]:
    """Deterministic seeds: the embeddings of the k lowest vec_ids (no
    RNG, so every engine — and the DuckDB oracle — picks the same ones).
    Collects k rows; the broadcast-side build of the whole algorithm."""
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    return [[float(x) for x in r["embedding"]] for r in rows]


def _dist2(vec_col: str, centroid: list[float]):
    c = F.array(*[F.lit(x) for x in centroid])
    return F.aggregate(
        F.zip_with(
            F.col(vec_col), c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def assign(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, cluster_id, dist2): nearest centroid per vector by squared
    L2, ties broken on the lower cluster_id. Pure projection — the argmin
    is ``array_min`` over k (dist2, cid) structs (lexicographic struct
    ordering), no join and no shuffle."""
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    _dist2("embedding", c).alias("d"),
                    F.lit(i).alias("cid"),
                )
                for i, c in enumerate(centroids)
            ]
        )
    )
    return emb.select("vec_id", "embedding", best.alias("_best")).select(
        "vec_id",
        "embedding",
        F.col("_best.cid").alias("cluster_id"),
        F.col("_best.d").alias("dist2"),
    )

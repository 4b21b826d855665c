"""Degree family — the reference's most-used graph aggregate.

Reference evidence: in-degree over the citation edge table is
``num_articles_cite`` (src/citations/neo4j/loader.py:376-390) and nine
sibling group-counts (loader.py:359-444,529-632). All are one shuffle:
``groupBy(key).count()`` with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def auto_partitions(
    spark: SparkSession,
    n_rows: int,
    rows_per_partition: int = 50_000,
    floor: int = 4,
) -> int:
    """Data-proportional partition count for iterative kernels.

    A fixed ``spark.sql.shuffle.partitions`` is wrong at both ends:
    a 20k-edge fixture graph over 32 partitions pays 32 task launches
    per round for microseconds of work each, while a 10^11-edge graph
    needs far more than the session default. Cap at the session setting
    (the cluster's parallelism), floor at a small constant, target
    ``rows_per_partition`` messages per task."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(floor, min(cap, n_rows // rows_per_partition + 1))


def pin_edges(df: DataFrame, key: str = "src") -> tuple[DataFrame, int, int]:
    """Cache ``df`` hash-partitioned on ``key`` at a data-proportional
    width — the layout every round of an iterative kernel joins against
    without an exchange. One pass over the (possibly expensively
    derived) input counts it for sizing; the pinned copy is then
    materialized and the raw cache released (also when the count
    raises, e.g. on a kernel's input validation).

    Returns ``(pinned, n_rows, num_partitions)``."""
    raw = df.persist()
    try:
        n_rows = raw.count()
        num_partitions = auto_partitions(df.sparkSession, n_rows)
        pinned = raw.repartition(num_partitions, key).persist()
        pinned.count()
    finally:
        raw.unpersist()
    return pinned, n_rows, num_partitions


def out_degrees(edges: DataFrame, weighted: bool = True) -> DataFrame:
    """(src) → out_degree; weighted sums edge weights (PageRank uses this
    to normalize contributions)."""
    agg = F.sum("weight") if weighted else F.count(F.lit(1)).cast("double")
    return edges.groupBy(F.col("src").alias("vid")).agg(agg.alias("out_degree"))


def in_degrees(edges: DataFrame, weighted: bool = False) -> DataFrame:
    agg = F.sum("weight") if weighted else F.count(F.lit(1)).cast("double")
    return edges.groupBy(F.col("dst").alias("vid")).agg(agg.alias("in_degree"))


def undirect(edges: DataFrame) -> DataFrame:
    """Directed (src,dst) → symmetric closure, deduplicated.

    Used by connected components and label propagation, which are
    defined on the undirected graph (reference communities are likewise
    undirected: sklearn clustering over embeddings + Louvain gallery,
    README.md:83-84 — no edge direction)."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev).distinct()

"""Scale-safe global ranking primitives.

A bare ``row_number() OVER (ORDER BY ...)`` sends every row to one
partition (Spark warns: "No Partition Defined for Window operation").
Fine for a 25-row candidate list, fatal for a 100 TB fact table. Two
replacements, both producing ranks identical to the single-partition
window whenever the ordering is a total order:

- ``ranked_topk``: when only the first k rows survive, sort-limit
  first — Spark plans ``orderBy().limit(k)`` as TakeOrderedAndProject
  (per-partition heaps, no global shuffle) — then window over the ≤k
  surviving rows to number them. Also the ranker of a frame bounded by
  a list the driver holds (one row per candidate the caller named):
  k = len(list) keeps every row, at a fraction of global_rank's jobs.
- ``global_rank``: when every row of a DATA-bounded frame needs its
  rank, the classic two-phase scheme: range-repartition on the sort
  key, number rows within each range partition, and add per-partition
  offsets, computed LAZILY as a broadcast triangular self-join over
  the ≤ num_partitions per-partition counts (no driver collect, no
  Spark job at plan-build time). No partition ever holds more than
  its range share; ties across partitions are safe because equal keys
  range-partition together.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def triangular_offsets(
    psums: DataFrame, key: str, val: str, out: str
) -> DataFrame:
    """off(k) = sum of ``val`` over rows with key' < key — the lazy,
    broadcast-able exclusive prefix sum over a ≤ num_partitions-row
    frame (bounded by config, never by data). ONE implementation shared
    by global_rank and pack_sequences; it replaced their build-time
    ``collect()`` + driver-built literal maps."""
    l, r = psums.alias("l"), psums.alias("r")
    return (
        l.join(r, F.col(f"r.{key}") < F.col(f"l.{key}"), "left")
        .groupBy(F.col(f"l.{key}").alias(key))
        .agg(
            F.coalesce(F.sum(F.col(f"r.{val}")), F.lit(0))
            .cast("long")
            .alias(out)
        )
    )


def ranked_topk(
    df: DataFrame, order: list[Column], k: int, rank_name: str = "rank"
) -> DataFrame:
    """Top-k by ``order`` with a 1-based rank column. Distributed
    TakeOrderedAndProject does the heavy cut; the global window only
    ever sees k rows."""
    top = df.orderBy(*order).limit(k)
    # the window sees at most k rows (the limit runs as
    # TakeOrderedAndProject before it). The constant partition key
    # makes that bound explicit to Spark: same single-partition
    # execution and identical ranks, but no spurious "No Partition
    # Defined" warning on a provably bounded input.
    w = Window.partitionBy(F.lit(0)).orderBy(*order)
    return top.withColumn(rank_name, F.row_number().over(w).cast("int"))


def global_rank(
    df: DataFrame,
    order: list[Column],
    rank_name: str = "rank",
    caches: list | None = None,
) -> DataFrame:
    """Rank EVERY row of ``df`` by ``order`` without a single-partition
    window, fully LAZILY (no job at plan-build time). The input is
    persisted because the offsets subtree and the final pass share it
    (one materialization per execution, cache-served after). Pass
    ``caches`` (a list) to receive the persisted frame — callers that
    materialize the result eagerly should unpersist it afterwards
    (lazy callers must leave it cached: the returned plan reads it)."""
    num_partitions = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    part = (
        df.repartitionByRange(num_partitions, *order)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    if caches is not None:
        caches.append(part)
    # off(p) = rows in partitions before p: a triangular self-join over
    # the per-partition counts (≤ num_partitions rows — bounded by
    # config, never by data), broadcast into the final pass. Replaces
    # the former counts.collect() + driver-built literal map, which
    # eagerly ran the entire upstream pipeline at query-BUILD time.
    psums = part.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c"))
    offs = triangular_offsets(psums, "__pid", "__c", "__off")
    w = Window.partitionBy("__pid").orderBy(*order)
    return (
        part.join(F.broadcast(offs), "__pid")
        .withColumn(rank_name, (F.row_number().over(w) + F.col("__off")).cast("int"))
        .drop("__pid", "__off")
    )

"""IVF (inverted-file) approximate nearest neighbor — the cell-probing
scale path for T2/K3 similarity search (SURVEY §2.8 K6: index build),
complementing the random-hyperplane LSH in operators/ann.py.

Classic IVF-Flat: a small set of coarse-quantizer centroids partitions
the vectors into cells (the "inverted lists"); a query probes only its
``n_probe`` nearest cells and brute-forces exact cosine within them.
The reference's search is a full brute-force scan
(embedding_search.py:99-111); IVF keeps its exact-cosine ranking while
scanning only n_probe/n_cells of the lake.

Two quantizer variants:

- ``ivf_topk``: DETERMINISTIC centroids — the first ``n_cells``
  vectors by id serve as the coarse quantizer (sampled-quantizer IVF).
  No RNG, no training: the DuckDB oracle reproduces cell assignment
  and probing bit-exactly (dot products on unit vectors are
  left-to-right in both engines), so this variant is hash-checked.
- ``ivf_kmeans_exact_topk`` (operators/kmeans.py): TRAINED centroids
  from an integer-quantized Lloyd's whose every training step replays
  bit-exactly in DuckDB — balanced cells AND a hash-checked gate.

Scale shape (the point of IVF at 100 TB): cell assignment is one
narrow projection per vector against a BROADCAST centroid table (no
shuffle); the inverted lists are the base table repartitioned/bucketed
by cell id; a search is an equi-join of a tiny probe list against the
cell-partitioned lists — candidate generation touches n_probe cells'
partitions only (partition pruning on cell id), never a crossJoin of
the full lake. Rebalancing skewed cells = re-training the quantizer,
not a plan change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from tabsketchfm_spark.functions.vector import dot_sql
from tabsketchfm_spark.operators.vector import _unit, _unit_cte_duckdb


def _centroids(units: DataFrame, n_cells: int) -> DataFrame:
    """(cell, cu): deterministic coarse quantizer — first n_cells unit
    vectors by id. A sampled quantizer, exactly reproducible in SQL."""
    return units.where(F.col("id") < n_cells).select(
        F.col("id").alias("cell"), F.col("u").alias("cu")
    )


def _nearest_cells(units: DataFrame, cents: DataFrame, n: int) -> DataFrame:
    """For each unit vector: its n nearest centroids by cosine
    (dot of unit vectors), deterministic tie-break on cell id.
    Output: (id, u, cell, cell_rank)."""
    scored = units.crossJoin(F.broadcast(cents)).select(
        "id", "u", "cell", F.expr(dot_sql("u", "cu")).alias("_cos")
    )
    w = Window.partitionBy("id").orderBy(F.desc("_cos"), F.asc("cell"))
    return (
        scored.withColumn("cell_rank", F.row_number().over(w))
        .where(F.col("cell_rank") <= n)
        .select("id", "u", "cell", "cell_rank")
    )


def _search_tail(assigned: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """The IVF-Flat search tail shared by both quantizer variants
    (sampled and integer-exact-trained — a self-pair or tie-break
    change must land in both at once): equi-join
    candidates to the broadcast probe list on cell id, drop
    self-pairs, rank by exact cosine. assigned: (cand_id, cu, cell);
    probes: (q_id, qu, cell)."""
    pairs = assigned.join(F.broadcast(probes), "cell").where(
        F.col("cand_id") != F.col("q_id")
    )
    scored = pairs.select(
        "q_id", "cand_id", F.expr(dot_sql("qu", "cu")).alias("cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", "cand_id", F.round("cos", 6).alias("cos"))
    )


def ivf_assign(
    emb: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell): the inverted-list assignment of each vector — its
    nearest coarse centroid. This is the index-build step; persist the
    result repartitioned by cell for the 100 TB layout."""
    units = _unit(emb, {"id": F.col(id_col)}, vec_col)
    cents = _centroids(units, n_cells)
    from tabsketchfm_spark.sources.tables import spread

    # the assignment pass is |vecs| × n_cells interpreted HOF dots —
    # expression-heavy, must not run single-task on a one-row-group
    # scan (round-3 spread rule). Centroids stay derived from the
    # unspread scan: 16 rows, broadcast.
    units_a = _unit(spread(emb), {"id": F.col(id_col)}, vec_col)
    return _nearest_cells(units_a, cents, 1).select("id", "cell")


def ivf_topk(
    emb: DataFrame,
    query_ids_max: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-Flat search: each query (id < query_ids_max) probes its
    n_probe nearest cells and ranks same-cell candidates by exact
    cosine. Output: (q_id, rank, cand_id, cos) — same schema as
    cosine_topk, with equi-join (not crossJoin) candidate generation."""
    units = _unit(emb, {"id": F.col(id_col)}, vec_col)
    cents = _centroids(units, n_cells)
    from tabsketchfm_spark.sources.tables import spread

    # candidate assignment = |vecs| × n_cells interpreted HOF dots;
    # spread the scan so it does not run single-task (round-3 rule).
    # Probes and centroids stay on the unspread scan — both tiny, both
    # broadcast.
    units_a = _unit(spread(emb), {"id": F.col(id_col)}, vec_col)
    assigned = _nearest_cells(units_a, cents, 1).select(
        F.col("id").alias("cand_id"), F.col("u").alias("cu"), "cell"
    )
    probes = _nearest_cells(
        units.where(F.col("id") < query_ids_max), cents, n_probe
    ).select(F.col("id").alias("q_id"), F.col("u").alias("qu"), "cell")
    # tiny probe list broadcasts; inverted lists stream through the join
    return _search_tail(assigned, probes, k)


def ivf_topk_oracle_sql(
    table: str,
    query_ids_max: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
) -> str:
    return f"""
WITH un AS ({_unit_cte_duckdb(table)}),
cents AS (SELECT vec_id AS cell, u AS cu FROM un WHERE vec_id < {n_cells}),
assigned AS (
  SELECT vec_id AS cand_id, u AS cu2, cell FROM (
    SELECT v.vec_id, v.u, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY list_dot_product(v.u, c.cu) DESC, c.cell)
             AS rn
    FROM un v CROSS JOIN cents c) t
  WHERE rn = 1),
probes AS (
  SELECT vec_id AS q_id, u AS qu, cell FROM (
    SELECT q.vec_id, q.u, c.cell,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY list_dot_product(q.u, c.cu) DESC, c.cell)
             AS rn
    FROM un q CROSS JOIN cents c
    WHERE q.vec_id < {query_ids_max}) t
  WHERE rn <= {n_probe}),
scored AS (
  SELECT p.q_id, a.cand_id, list_dot_product(p.qu, a.cu2) AS cos
  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.cand_id <> p.q_id),
ranked AS (
  SELECT q_id, cand_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id)
              AS INTEGER) AS rank
  FROM scored)
SELECT q_id, rank, cand_id, round(cos, 6) AS cos FROM ranked WHERE rank <= {k}
"""

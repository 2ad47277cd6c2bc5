"""Embedding-space search: brute-force cosine top-k, column-vote
ranking, and embedding near-duplicate detection.

Re-designs the reference's search core (SURVEY §2.8): T2 brute-force
k-NN (reference embedding_search.py:99-111), K3 join search
(embedding_search.py:166-184), K4 union/subset column-vote search
(embedding_search.py:118-164 = W4 first-match + A11 vote aggregate +
T4 final ranking), T7 self-removal, plus the north-star
embedding-cosine near-dup.

Cosine is computed as dot-of-unit-vectors: each side is L2-normalized
ONCE in a projection (norms recomputed per pair are 2/3 of the naive
cost), then pairs only take dot products. The DuckDB oracle normalizes
identically, so values stay bit-identical (element-wise division then
left-to-right dot in both engines).

Scale shape: brute-force is a crossJoin — the right default below
~10^5 vectors per side when the small side broadcasts (no shuffle of
the big side). The 100 TB path swaps the crossJoin for an LSH bucket
join (operators/ann.py, MinHashLSH) with identical output schema;
ranking logic is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from tabsketchfm_spark.functions.vector import dot_sql, norm_sql


def _unit(df: DataFrame, id_exprs: dict[str, F.Column], vec_col: str) -> DataFrame:
    """Project (ids..., u): the unit vector, with the norm computed once
    per row as a plain column (inside the lambda it would re-evaluate
    per element)."""
    return (
        df.select(
            *[c.alias(n) for n, c in id_exprs.items()],
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .withColumn("_nrm", F.expr(norm_sql("_v")))
        .select(
            *id_exprs.keys(),
            F.expr("transform(_v, x -> x / _nrm)").alias("u"),
        )
    )


def _unit_cte_duckdb(table: str, extra_cols: str = "") -> str:
    return (
        f"SELECT vec_id{extra_cols}, "
        f"list_transform(v, x -> x / nrm) AS u "
        f"FROM (SELECT *, embedding::DOUBLE[] AS v, "
        f"sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm "
        f"FROM {table}) t"
    )


def cosine_topk(
    emb: DataFrame,
    query_ids_max: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """T2/K3/T7: for each query vector (id < query_ids_max), the k nearest
    other vectors by cosine. Output: (q_id, rank, cand_id, cos)."""
    from tabsketchfm_spark.sources.tables import spread

    # candidate side drives |q|×|c| interpreted HOF dots — the classic
    # expression-heavy downstream that must not run single-task on a
    # one-row-group scan (guide §2.5 input skew; round-3 spread rule).
    # The query side stays unspread: it is filtered tiny and broadcast.
    # Measured at sf0.1 (2000 vecs × 10 queries): 0.66s → 0.27s; the
    # unrolled dot (dim=64) was ALSO measured and loses here (0.85s
    # single-task, 0.33s spread) — array indexing beats nothing when
    # the win is parallelism, so the HOF form stays.
    units_c = _unit(spread(emb), {"id": F.col(id_col)}, vec_col)
    units_q = _unit(emb, {"id": F.col(id_col)}, vec_col)
    q = units_q.where(F.col("id") < query_ids_max).select(
        F.col("id").alias("q_id"), F.col("u").alias("qu")
    )
    c = units_c.select(F.col("id").alias("cand_id"), F.col("u").alias("cu"))
    pairs = c.crossJoin(F.broadcast(q)).where(F.col("cand_id") != F.col("q_id"))
    scored = pairs.select("q_id", "cand_id", F.expr(dot_sql("qu", "cu")).alias("cos"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", "cand_id", F.round("cos", 6).alias("cos"))
    )


def cosine_topk_oracle_sql(table: str, query_ids_max: int, k: int = 10) -> str:
    return f"""
WITH un AS ({_unit_cte_duckdb(table)}),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS cand_id, list_dot_product(q.u, c.u) AS cos
  FROM un q JOIN un c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {query_ids_max}),
ranked AS (
  SELECT q_id, cand_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id)
              AS INTEGER) AS rank
  FROM scored)
SELECT q_id, rank, cand_id, round(cos, 6) AS cos FROM ranked WHERE rank <= {k}
"""


def column_vote_search(
    emb: DataFrame,
    query_label: int = 0,
    over_fetch: int = 30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """K4: treat ``label`` as a table id and each vector as a column
    embedding. For every query column (label == query_label): take the
    ``over_fetch`` nearest candidate columns from other tables
    (reference over-fetches k*3 — embedding_search.py:129), keep the
    first (nearest) match per candidate table (W4,
    embedding_search.py:134-141), then aggregate per candidate table
    (matched-column count, summed distance — A11) and rank
    (-count, +sum — T4, embedding_search.py:159-161).

    Output: (cand_table, matched_cols, dist_sum, rank).
    """
    from tabsketchfm_spark.sources.tables import spread

    # candidate side drives |q_cols|×|c_cols| interpreted HOF dots on a
    # one-row-group scan — the same expression-heavy single-task stage
    # cosine_topk spreads (guide §2.5; round-13: measured 3.4s of a
    # 5.8s warm wall in ONE task before the spread). The query side
    # stays unspread: filtered small and broadcast.
    units_c = _unit(
        spread(emb), {"id": F.col(id_col), "grp": F.col(group_col)}, vec_col
    )
    units = _unit(emb, {"id": F.col(id_col), "grp": F.col(group_col)}, vec_col)
    qv = units.where(F.col("grp") == query_label).select(
        F.col("id").alias("q_col"), F.col("u").alias("qu")
    )
    cv = units_c.where(F.col("grp") != query_label).select(
        F.col("id").alias("cand_col"),
        F.col("grp").alias("cand_table"),
        F.col("u").alias("cu"),
    )
    scored = cv.crossJoin(F.broadcast(qv)).select(
        "q_col",
        "cand_col",
        "cand_table",
        (F.lit(1.0) - F.expr(dot_sql("qu", "cu"))).alias("dist"),
    )
    wk = Window.partitionBy("q_col").orderBy(F.asc("dist"), F.asc("cand_col"))
    near = scored.withColumn("nn_rank", F.row_number().over(wk)).where(
        F.col("nn_rank") <= over_fetch
    )
    wf = Window.partitionBy("q_col", "cand_table").orderBy(
        F.asc("dist"), F.asc("cand_col")
    )
    first = near.withColumn("fm", F.row_number().over(wf)).where(F.col("fm") == 1)
    votes = first.groupBy("cand_table").agg(
        F.count(F.lit(1)).alias("matched_cols"),
        # exact decimal sum: a float sum depends on the partitions' merge order
        F.expr("round(CAST(sum(CAST(dist AS DECIMAL(38,12))) AS DOUBLE), 6)").alias("dist_sum"),
    )
    from tabsketchfm_spark.functions.ranking import global_rank

    return global_rank(
        votes.select("cand_table", "matched_cols", "dist_sum"),
        [F.desc("matched_cols"), F.asc("dist_sum"), F.asc("cand_table")],
    )


def column_vote_oracle_sql(
    table: str, query_label: int = 0, over_fetch: int = 30
) -> str:
    return f"""
WITH un AS ({_unit_cte_duckdb(table, ", label")}),
scored AS (
  SELECT q.vec_id AS q_col, c.vec_id AS cand_col, c.label AS cand_table,
         1.0 - list_dot_product(q.u, c.u) AS dist
  FROM un q JOIN un c ON c.label <> {query_label}
  WHERE q.label = {query_label}),
near AS (
  SELECT *, row_number() OVER (PARTITION BY q_col ORDER BY dist, cand_col) AS nn_rank
  FROM scored QUALIFY nn_rank <= {over_fetch}),
first AS (
  SELECT *, row_number() OVER (PARTITION BY q_col, cand_table
                               ORDER BY dist, cand_col) AS fm
  FROM near QUALIFY fm = 1),
votes AS (
  SELECT cand_table, count(*) AS matched_cols,
         round(CAST(sum(CAST(dist AS DECIMAL(38,12))) AS DOUBLE), 6) AS dist_sum
  FROM first GROUP BY cand_table)
SELECT cand_table, matched_cols, dist_sum,
       CAST(row_number() OVER (ORDER BY matched_cols DESC, dist_sum, cand_table)
            AS INTEGER) AS rank
FROM votes
"""


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    planes: int = 3,
    tables: int = 12,
    bucket_cap: int | None = None,
) -> DataFrame:
    """North-star near-dup: vector pairs with cosine >= threshold.

    Candidate generation is a multi-table random-hyperplane LSH bucket
    join — the banded-LSH shape, not a crossJoin: each vector hashes to
    one bucket per table (``planes`` sign bits of closed-form
    hyperplane dots, global plane index ``t*planes + p``), candidates
    are pairs sharing a (table, bucket) key, ``distinct`` collapses
    multi-table agreements, and the exact unit-dot verifies. Recall is
    1-(1-s^planes)^tables for pair bit-agreement rate s; the DuckDB
    oracle regenerates the same closed-form hyperplanes, so the gate is
    bit-exact on this operator's actual semantics (same pattern as the
    banded MinHash oracle). At 100 TB, ``planes`` grows with log(n) to
    hold bucket sizes flat; only (table, bucket) keys shuffle.
    Output: (id_a, id_b, cos).
    """
    from tabsketchfm_spark.operators.ann import _weights_spark

    units = _unit(emb, {"id": F.col(id_col)}, vec_col).persist()
    structs = []
    for t in range(tables):
        bits = []
        for p in range(planes):
            dot = (
                f"aggregate(zip_with(u, {_weights_spark(t * planes + p, dim)}, "
                f"(x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
            )
            bits.append(f"CASE WHEN ({dot}) >= 0 THEN {2 ** p} ELSE 0 END")
        structs.append(
            F.struct(
                F.lit(t).alias("t"),
                F.expr(" + ".join(bits)).cast("int").alias("bucket"),
            )
        )
    bk = units.select("id", F.explode(F.array(*structs)).alias("b")).select(
        "id", "b.t", "b.bucket"
    )
    join_keys = ["t", "bucket"]
    if bucket_cap is not None:
        from tabsketchfm_spark.operators.lsh import cap_bucket_split

        bk = cap_bucket_split(bk, ["t", "bucket"], bucket_cap)
        join_keys = ["t", "bucket", "sub"]
    a = bk.select(F.col("id").alias("id_a"), *join_keys)
    b = bk.select(F.col("id").alias("id_b"), *join_keys)
    cand = (
        a.join(b, join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ua = units.select(F.col("id").alias("id_a"), F.col("u").alias("ua"))
    ub = units.select(F.col("id").alias("id_b"), F.col("u").alias("ub"))
    return (
        cand.join(ua, "id_a")
        .join(ub, "id_b")
        # unrolled dot (codegen) — the candidate set is O(bucket²) rows
        # and the interpreted HOF form dominated the whole query there
        # (measured ~20s on 190k pairs at sf0.01); unrolling keeps the
        # same left-to-right order, so values are unchanged bit-for-bit
        .select("id_a", "id_b", F.expr(dot_sql("ua", "ub", dim=dim)).alias("cos"))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def embedding_near_dups_bruteforce(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs reference form of :func:`embedding_near_dups` — O(n²)
    crossJoin, kept ONLY as the recall cross-check in tests. Never
    register or run this at scale."""
    units = _unit(emb, {"id": F.col(id_col)}, vec_col)
    a = units.select(F.col("id").alias("id_a"), F.col("u").alias("ua"))
    b = units.select(F.col("id").alias("id_b"), F.col("u").alias("ub"))
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select("id_a", "id_b", F.expr(dot_sql("ua", "ub")).alias("cos"))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def embedding_near_dups_oracle_sql(
    table: str,
    threshold: float = 0.95,
    dim: int = 64,
    planes: int = 3,
    tables: int = 12,
    bucket_cap: int | None = None,
) -> str:
    from tabsketchfm_spark.operators.ann import _weights_duckdb

    # regenerate the closed-form hyperplanes per global plane index gp;
    # the lambda captures gp from the unnested series (DuckDB allows
    # column capture in list lambdas, but NOT lateral args to the
    # generate_series *table* function — hence unnest() in the SELECT).
    w = _weights_duckdb("gp", dim)
    if bucket_cap is None:
        capped = "SELECT id, t, bucket, 0 AS sub FROM bk"
    else:
        from tabsketchfm_spark.operators.lsh import cap_split_sql_duckdb

        capped = cap_split_sql_duckdb("bk", ["t", "bucket"], bucket_cap)
    return f"""
WITH un AS ({_unit_cte_duckdb(table)}),
g AS (SELECT vec_id, u, unnest(generate_series(0, {tables * planes - 1})) AS gp
      FROM un),
dots AS (SELECT vec_id, gp // {planes} AS t,
                CASE WHEN list_dot_product(u, {w}) >= 0
                     THEN 1 << (gp % {planes}) ELSE 0 END AS bit
         FROM g),
bk AS (SELECT vec_id AS id, t, CAST(sum(bit) AS INTEGER) AS bucket
       FROM dots GROUP BY vec_id, t),
capped AS ({capped}),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM capped a JOIN capped b ON a.t = b.t AND a.bucket = b.bucket AND a.sub = b.sub
         WHERE a.id < b.id)
SELECT id_a, id_b, round(list_dot_product(ua.u, ub.u), 6) AS cos
FROM cand JOIN un ua ON ua.vec_id = id_a JOIN un ub ON ub.vec_id = id_b
WHERE list_dot_product(ua.u, ub.u) >= {threshold}
"""


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector int8 scalar quantization — the embedding-store
    compression primitive (4 bytes → 1 byte per dim before ANN
    shipping). code = floor((x − min)/scale + 0.5) with scale =
    (max − min)/255; floor(+0.5) instead of round() because Spark
    rounds HALF_UP and DuckDB HALF_EVEN — floor is identical in both.
    Long format (one row per dimension) keeps the contract hashable
    cross-engine. One narrow projection, no shuffle.

    Output: (vec_id, i, code).
    """
    v = F.col(vec_col).cast("array<double>")
    base = emb.select(
        F.col(id_col).alias("vec_id"),
        v.alias("v"),
        F.array_min(v).alias("mn"),
        F.array_max(v).alias("mx"),
    ).withColumn(
        "scale",
        F.when(F.col("mx") > F.col("mn"), (F.col("mx") - F.col("mn")) / 255.0)
        .otherwise(F.lit(1.0)),
    )
    return base.select(
        "vec_id",
        F.posexplode(
            F.expr("transform(v, x -> cast(floor((x - mn) / scale + 0.5) as int))")
        ).alias("i", "code"),
    )


def quantize_int8_oracle_sql(table: str) -> str:
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_min(embedding::DOUBLE[]) AS mn,
         list_max(embedding::DOUBLE[]) AS mx
  FROM {table}),
sc AS (
  SELECT vec_id, v, mn,
         CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS scale
  FROM base)
SELECT vec_id, CAST(i - 1 AS INTEGER) AS i,
       CAST(floor((v[i] - mn) / scale + 0.5) AS INTEGER) AS code
FROM sc, unnest(generate_series(1, len(v))) t(i)
"""


def quantize_error(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Reconstruction quality of int8 quantization: per-vector mean
    absolute error of dequantized values — the metric that decides
    whether the ANN index can run on codes. Output: (vec_id, mn, mx,
    mae) rounded to 9 dp (|err| <= scale/2 by construction)."""
    v = F.col(vec_col).cast("array<double>")
    base = emb.select(
        F.col(id_col).alias("vec_id"),
        v.alias("v"),
        F.array_min(v).alias("mn"),
        F.array_max(v).alias("mx"),
    ).withColumn(
        "scale",
        F.when(F.col("mx") > F.col("mn"), (F.col("mx") - F.col("mn")) / 255.0)
        .otherwise(F.lit(1.0)),
    )
    err_sum = (
        "aggregate(transform(v, x -> "
        "abs(x - (mn + floor((x - mn) / scale + 0.5) * scale))), "
        "cast(0.0 as double), (acc, e) -> acc + e)"
    )
    return base.select(
        "vec_id",
        F.round("mn", 9).alias("mn"),
        F.round("mx", 9).alias("mx"),
        F.round(F.expr(err_sum) / F.size("v"), 9).alias("mae"),
    )


def quantize_error_oracle_sql(table: str) -> str:
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_min(embedding::DOUBLE[]) AS mn,
         list_max(embedding::DOUBLE[]) AS mx
  FROM {table}),
sc AS (
  SELECT vec_id, v, mn, mx,
         CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS scale
  FROM base)
SELECT vec_id, round(mn, 9) AS mn, round(mx, 9) AS mx,
       round(list_aggregate(
               list_transform(v, x ->
                 abs(x - (mn + floor((x - mn) / scale + 0.5) * scale))),
               'sum') / len(v), 9) AS mae
FROM sc
"""


# ---------------------------------------------------------------------------
# group centroid pooling (K1-style mean pooling as a relational op)


def label_centroids(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Element-wise mean embedding per group — the relational form of
    K1's mean pooling (reference extract_embeddings.py:16-73 pools
    token vectors per column; here vectors pool per label/group).

    Exactness: a grouped double sum is partition-order nondeterministic,
    so each (label, pos) group sorts its values and sums left-to-right
    (aggregate over array_sort) — bit-identical to the oracle's
    list_reduce over an ordered list. Output: (label, pos, centroid, n),
    long form — one row per dimension avoids array-construction
    ordering hazards.

    Scale shape: posexplode fans out dim× rows, then one partial-agg
    shuffle on (label, pos) — fine to ~10^9 vectors. Beyond that the
    exact sorted-sum contract (collect_list per group) is the test
    path; the production path is plain avg() or MLlib Summarizer.mean
    with fp-tolerance, same plan minus the sort.
    """
    ex = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    )
    return (
        ex.groupBy("label", "pos")
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(x)), cast(0.0 as double),"
                " (a, v) -> a + v)"
            ).alias("_sx"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("label", "pos", (F.col("_sx") / F.col("n")).alias("centroid"), "n")
    )


def label_centroids_oracle_sql(table: str, label_col: str = "label") -> str:
    return f"""
WITH ex AS (
  SELECT {label_col} AS label, CAST(i - 1 AS INTEGER) AS pos, v[i] AS x
  FROM (SELECT {label_col}, embedding::DOUBLE[] AS v FROM {table}),
       unnest(generate_series(1, len(v))) t(i))
SELECT label, pos,
       list_reduce(list(x ORDER BY x), (a, v) -> a + v) / count(*) AS centroid,
       count(*) AS n
FROM ex GROUP BY label, pos
"""

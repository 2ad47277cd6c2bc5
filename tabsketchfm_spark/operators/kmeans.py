"""Integer-exact k-means (quantized Lloyd's) and the trained-quantizer
IVF search it enables — ORACLE-EXACT unsupervised training.

The IVF module (operators/ivf.py) ships a deterministic sampled
quantizer: oracle-exact, but untrained — cell balance is whatever the
first n_cells vectors happen to be. A trained quantizer such as MLlib
KMeans is RNG-seeded and iterative, so it could only be rows-only.
This module closes that gap the same way the perceptron/boost
trainers closed it for supervised learning (operators/classifier.py,
tree.py): make every quantity in the training loop an exact integer,
and the whole fit replays bit-for-bit in DuckDB as chained
MATERIALIZED CTEs — the pagerank/BPE/perceptron replay family
extended to clustering.

The trick, step by step (reference parity: the reference clusters
embeddings with sklearn KMeans in its search-evaluation tooling;
embedding_search.py's brute-force scan is what IVF accelerates):

1. QUANTIZE: unit vectors (the established bit-exact cosine frame,
   operators/vector.py `_unit`) → integers ``q[i] = floor(u[i]*S + .5)``
   with S = 1024. floor(x + 0.5) rounds identically in Spark, DuckDB
   and python (the round() HALF_UP/HALF_EVEN divergence lesson).
2. INIT: centroids = the quantized vectors of the k smallest ids. No
   RNG — deterministic across engines and runs.
3. ASSIGN: argmin_k ||q − m_k||² with integer centroids m_k. The
   common q·q term cancels inside the argmin, so the comparable is
   ``B_k = m_k·m_k − 2·(q·m_k)`` — a plain BIGINT (≤ ~2·10⁸ at S=1024,
   dim 64), exact even through DuckDB's DOUBLE list_dot_product
   (integers < 2⁵³ are exact doubles). Ties → smallest cell id.
4. UPDATE: new ``m_k[i] = floor(s_k[i]/c_k + 1/2)`` computed as the
   INTEGER floor division ``(2s + c) // (2c)`` — rounding the running
   mean back onto the integer grid keeps every later round's distances
   integer too (no rational-arithmetic blowup, no float drift). Python
   ``//`` floors; DuckDB ``//`` truncates toward zero, so the oracle
   spells out floor division for negative numerators. Empty cluster →
   previous centroid.
5. Repeat a FIXED number of rounds (no convergence check needed for
   replay determinism).

Scale shape (100 TB): the quantized frame is persisted once; each
Lloyd round is ONE map-side-combinable aggregate (assignment is a
per-row expression against k broadcast-small centroids — zero shuffle;
the update is a groupBy(cell) with dim partial sums). The trained
centroids then drive the same broadcast-probe IVF search plan as
operators/ivf.py — candidate generation is an equi-join on cell id,
never a crossJoin of the lake.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from tabsketchfm_spark.functions.vector import dot_sql
from tabsketchfm_spark.operators.ivf import _search_tail
from tabsketchfm_spark.operators.vector import _unit, _unit_cte_duckdb

SCALE = 1024
N_CELLS = 8
N_ITERS = 4
DIM = 64
# micro-batch count shared by the streaming mini-batch operator and
# its oracle — a lone default on either side desyncs the pairing
N_BATCHES = 3


def _quantized(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, u, qv): unit vector + its integer quantization. NULL or
    zero-norm vectors (u all-NaN after the 0/0 division) are dropped
    — without the filter they would quantize to NULL comparables,
    which Spark's when-chain argmin and DuckDB's row_number NULLS-LAST
    ordering assign to DIFFERENT cells. The oracle's pts CTE mirrors
    the filter."""
    units = _unit(emb, {"id": F.col(id_col)}, vec_col)
    return units.where(
        F.expr("u is not null and not exists(u, x -> isnan(x))")
    ).select(
        "id",
        "u",
        F.expr(
            f"transform(u, x -> cast(floor(x * cast({SCALE} as double)"
            " + cast(0.5 as double)) as bigint))"
        ).alias("qv"),
    )


def valid_rows(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """``emb``'s rows restricted to the population that survives
    ``_quantized``'s degenerate filter, ORIGINAL columns kept — via a
    semi-join on the filtered ids, so the population is the oracle's
    ``pts`` CTE by construction (no re-derived filter to drift).
    Harness feeds that derive bucket widths from ``max(id)`` must read
    THIS frame: a degenerate max-id row would otherwise give the Spark
    side a different width than the oracle's ``max(id) FROM pts``
    (round-8 advisory)."""
    ids = _quantized(emb, id_col, vec_col).select(F.col("id").alias(id_col))
    return emb.join(ids, id_col, "left_semi")


def _b_expr(vec: list[int]) -> F.Column:
    """The BIGINT distance comparable to ONE centroid literal:
    B = m·m − 2·(qv·m) (HOF dot — interpreted, but centroid literals
    change every round, so unrolled codegen would pay a fresh Janino
    compile per round for nothing)."""
    mm = sum(v * v for v in vec)
    arr = ", ".join(f"cast({v} as bigint)" for v in vec)
    dot = (
        f"aggregate(zip_with(qv, array({arr}), (x, y) -> x * y), "
        "cast(0 as bigint), (acc, x) -> acc + x)"
    )
    return F.expr(f"cast({mm} as bigint) - 2 * ({dot})")


def _b_exprs(m: dict[int, list[int]]) -> list[F.Column]:
    """One aliased distance-comparable column per centroid."""
    return [_b_expr(m[cid]).alias(f"b{cid}") for cid in sorted(m)]


def _bk_col(k: int, cols: list[F.Column] | None = None) -> F.Column:
    """argmin over the b0..b{k-1} columns (or the given expression
    list), tie → smallest cell id (first match in the when-chain) —
    the ONE tie-break rule for every trained-quantizer consumer."""
    bs = cols if cols is not None else [F.col(f"b{c}") for c in range(k)]
    lb = F.least(*bs)
    bk = F.when(bs[0] == lb, 0)
    for c in range(1, k - 1):
        bk = bk.when(bs[c] == lb, c)
    # the least() always equals one of the (exact-integer) b columns,
    # so the tail case is the unconditional fallback
    return bk.otherwise(k - 1)


def _lloyd_centroids(
    q: DataFrame,
    k: int,
    iters: int,
    dim: int,
    init: dict[int, list[int]] | None = None,
) -> dict[int, list[int]]:
    """The driver-coordinated Lloyd loop over a persisted quantized
    frame: per round ONE aggregate job (assignment is expression-only
    against centroid literals; the groupBy(cell) update carries `dim`
    partial sums). Returns the final integer centroids. ``init``
    overrides the cold smallest-id seed (warm starts from stored
    centroids — the python twin of _kmeans_ctes' init_sql seam, so
    the round algebra lives in exactly ONE place per engine)."""
    m = dict(init) if init is not None else _seed_vectors(q, k)
    for _ in range(iters):
        new = dict(m)  # empty cluster keeps its previous centroid
        for cid, (s, c) in cell_aggregate(q, m, dim).items():
            new[cid] = [(2 * sj + c) // (2 * c) for sj in s]
        m = new
    return m


def _seed_vectors(q: DataFrame, k: int) -> dict[int, list[int]]:
    """The ONE deterministic-init contract (batch fit AND streaming
    seed): the quantized vectors of the k smallest ids."""
    if k < 2:
        raise ValueError("k-means needs at least 2 cells")
    init = {
        int(r["id"]): [int(v) for v in r["qv"]]
        for r in q.where(F.col("id") < k).select("id", "qv").collect()
    }
    if len(init) != k:
        raise ValueError(f"need ids 0..{k - 1} present for deterministic init")
    return init


def cell_aggregate(
    q: DataFrame, m: dict[int, list[int]], dim: int
) -> dict[int, tuple[list[int], int]]:
    """ONE aggregate job: assign every row of ``q`` to its nearest
    centroid (expression-only) and return {cid: (sum_vec, count)} —
    the shared per-pass algebra of the full Lloyd loop and the
    streaming mini-batch update."""
    rows = (
        q.select("qv", *_b_exprs(m))
        .select(_bk_col(len(m)).alias("bk"), "qv")
        .groupBy("bk")
        .agg(
            F.count("*").alias("c"),
            *[F.sum(F.element_at("qv", i + 1)).alias(f"s{i}") for i in range(dim)],
        )
        .collect()
    )
    return {
        int(r["bk"]): ([int(r[f"s{i}"]) for i in range(dim)], int(r["c"]))
        for r in rows
    }


# fitted centroids keyed on the INPUT PLAN's semantic hash + all fit
# params: three registered queries share one identical fit, and every
# registry build pass (plan guard, parity sweep, bench) would otherwise
# re-train in triplicate. Plan-keyed, NOT content-keyed — mutating the
# file behind an already-fitted path serves stale centroids (the
# checkpoint-memo lesson); testdata parquet is immutable per session,
# and clear_fit_memo() resets after any rewrite.
_FIT_MEMO: dict[tuple, dict[int, list[int]]] = {}

# dependent memos (the PQ/IVF-PQ codebooks train AGAINST these fits)
# register their clear functions here so ONE documented reset call
# restores coherence — a partial clear could pair fresh centroids
# with codebooks trained in the old residual domain
_DEPENDENT_MEMO_CLEARS: list = []


def clear_fit_memo() -> None:
    _FIT_MEMO.clear()
    for clear in _DEPENDENT_MEMO_CLEARS:
        clear()


def _fit(
    emb: DataFrame,
    k: int,
    iters: int,
    dim: int,
    id_col: str,
    vec_col: str,
    q: DataFrame | None = None,
) -> dict[int, list[int]]:
    """Quantize + persist + Lloyd + release, memoized. Pass an
    already-persisted quantized frame as ``q`` to share one cache
    across several fits (the SSE curve)."""
    key = (emb._jdf.semanticHash(), id_col, vec_col, k, iters, dim, SCALE)
    hit = _FIT_MEMO.get(key)
    if hit is not None:
        return hit
    if q is not None:
        m = _lloyd_centroids(q, k, iters, dim)
    else:
        qf = _quantized(emb, id_col, vec_col).persist()
        try:
            m = _lloyd_centroids(qf, k, iters, dim)
        finally:
            qf.unpersist()
    _FIT_MEMO[key] = m
    return m


def _assigned_cols(emb, m, id_col, vec_col):
    """(id, u, cell): expression-only assignment against the FITTED
    centroid literals — no window, no crossJoin, no cache; recomputing
    it per join side is one narrow projection over the base scan (the
    right shape at lake scale too)."""
    k = len(m)
    return (
        _quantized(emb, id_col, vec_col)
        .select("id", "u", *_b_exprs(m))
        .select("id", "u", _bk_col(k).cast("int").alias("cell"))
    )


def kmeans_assign_exact(
    emb: DataFrame,
    k: int = N_CELLS,
    iters: int = N_ITERS,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fit integer Lloyd's and return the final (vec_id, cluster)
    assignment as a LAZY frame (the fit's calibration collects run at
    build time; the returned plan is a plain expression over the base
    scan). Bit-exact vs kmeans_assign_exact_oracle_sql."""
    m = _fit(emb, k, iters, dim, id_col, vec_col)
    return _assigned_cols(emb, m, id_col, vec_col).select(
        F.col("id").alias("vec_id"), F.col("cell").alias("cluster")
    )


def _floor_div_sql(num: str, den: str) -> str:
    """DuckDB floor division for a POSITIVE denominator — ``//``
    truncates toward zero there, python's floors."""
    return (
        f"CASE WHEN ({num}) >= 0 THEN ({num}) // ({den}) "
        f"ELSE -((-({num}) + ({den}) - 1) // ({den})) END"
    )


# the DuckDB distance comparable — ONE source of truth for the replay
# rounds and every final-assignment/probe consumer (a drift between
# copies would silently break the bit-exact contract). Integer-valued
# doubles < 2^53, so DOUBLE list_dot_product is exact.
def _b_sql(vec: str = "qv") -> str:
    return (
        "list_dot_product(c.m::DOUBLE[], c.m::DOUBLE[])"
        f" - 2 * list_dot_product(p.{vec}::DOUBLE[], c.m::DOUBLE[])"
    )


_B_SQL = _b_sql()


def _ranked_cells_sql(
    cents_cte: str,
    where: str = "",
    pts: str = "pts",
    vec: str = "qv",
    with_u: bool = True,
) -> str:
    """The shared (id[, u], cid, rn) cell-ranking subquery: every
    point × the k centroids of ``cents_cte``, ranked by B, tie →
    smallest cell id. ``with_u=False`` for point sources without a
    unit-vector column (the PQ subvector frame)."""
    u = " p.u," if with_u else ""
    return (
        f"SELECT p.id,{u} c.cid, row_number() OVER (PARTITION BY p.id "
        f"ORDER BY {_b_sql(vec)}, c.cid) AS rn "
        f"FROM {pts} p CROSS JOIN {cents_cte} c{where}"
    )


def _base_ctes(table: str, dim: int) -> list[str]:
    """The shared un/pts/dims prefix — ONE copy of the quantization
    SQL (a drift between the batch and streaming oracles would
    silently break the bit-exact contract)."""
    return [
        f"un AS ({_unit_cte_duckdb(table)})",
        "pts AS MATERIALIZED (SELECT vec_id AS id, u, "
        f"list_transform(u, x -> CAST(floor(x * CAST({SCALE} AS DOUBLE)"
        " + 0.5) AS BIGINT)) AS qv FROM un "
        # mirror _quantized's degenerate-vector filter
        "WHERE u IS NOT NULL AND len(list_filter(u, x -> isnan(x))) = 0)",
        f"dims AS (SELECT unnest(generate_series(1, {dim})) AS i)",
    ]


def _kmeans_ctes(
    table: str,
    k: int,
    iters: int,
    dim: int,
    prefix: str = "",
    base: bool = True,
    pts: str = "pts",
    vec: str = "qv",
    dims: str = "dims",
    with_u: bool = True,
    init_sql: str | None = None,
) -> tuple[list[str], str]:
    """The shared oracle scaffolding: CTE list replaying quantize →
    init → `iters` Lloyd rounds, plus the name of the final centroid
    CTE. Every state CTE is MATERIALIZED (plain CTEs re-evaluate per
    reference — the pagerank lesson). ``prefix``/``base=False`` let
    several fits (different k) share one un/pts/dims prefix in a
    single WITH (the SSE curve); ``pts``/``vec``/``dims``/``with_u``
    retarget the replay at a different point source (the PQ subvector
    frame); ``init_sql`` overrides the seed SELECT (must yield
    (cid, m) rows — the bisecting splits seed from in-cluster ids, not
    ids < k) — ONE copy of the Lloyd-round SQL for every fit replay."""
    p = prefix
    init = init_sql or (
        f"SELECT id AS cid, {vec} AS m FROM {pts} t0 WHERE t0.id < {k}"
    )
    ctes = ([] if not base else _base_ctes(table, dim)) + [
        f"{p}c0 AS MATERIALIZED ({init})",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"{p}a{t} AS MATERIALIZED (SELECT id, cid AS bk FROM ("
            f"{_ranked_cells_sql(f'{p}c{t - 1}', pts=pts, vec=vec, with_u=with_u)}"
            ") z WHERE rn = 1)"
        )
        ctes.append(
            f"{p}s{t} AS MATERIALIZED (SELECT a.bk AS cid, d.i, "
            f"CAST(sum(p.{vec}[d.i]) AS BIGINT) AS s, "
            "CAST(count(*) AS BIGINT) AS c "
            f"FROM {p}a{t} a JOIN {pts} p ON p.id = a.id CROSS JOIN {dims} d "
            "GROUP BY a.bk, d.i)"
        )
        fd = _floor_div_sql("2 * s + c", "2 * c")
        ctes.append(
            f"{p}c{t} AS MATERIALIZED (SELECT prev.cid, coalesce(nm.m, prev.m) AS m "
            f"FROM {p}c{t - 1} prev LEFT JOIN "
            f"(SELECT cid, list({fd} ORDER BY i) AS m FROM {p}s{t} GROUP BY cid) nm "
            "ON nm.cid = prev.cid)"
        )
    return ctes, f"{p}c{iters}"


def bounded_assign_gate(asg: DataFrame, mod: int = 17) -> DataFrame:
    """Bounded gate over a full (vec_id, cluster) assignment set —
    sampled slice + plain and ID-WEIGHTED checksums; see
    functions/gates.py for what the weighting does and does not
    cover."""
    from tabsketchfm_spark.functions.gates import bounded_slice_gate

    return bounded_slice_gate(
        asg, "vec_id", {"cluster": F.col("cluster").cast("long")}, mod
    )


def kmeans_assign_exact_oracle_sql(
    table: str,
    k: int = N_CELLS,
    iters: int = N_ITERS,
    dim: int = DIM,
    bounded_mod: int | None = None,
) -> str:
    from tabsketchfm_spark.functions.gates import bounded_tail_sql

    ctes, cfinal = _kmeans_ctes(table, k, iters, dim)
    full = f"""SELECT id AS vec_id, CAST(cid AS INTEGER) AS cluster
FROM ({_ranked_cells_sql(cfinal)}) z
WHERE rn = 1"""
    if bounded_mod is None:
        return "WITH " + ",\n".join(ctes) + "\n" + full + "\n"
    ctes.append(f"fullasg AS MATERIALIZED ({full})")
    return (
        "WITH "
        + ",\n".join(ctes)
        + bounded_tail_sql(
            "fullasg", "vec_id", {"cluster": "cluster"}, bounded_mod
        )
    )


def _cents_frame(spark, m: dict[int, list[int]]) -> DataFrame:
    """The fitted centroids as a broadcastable k-row frame, with the
    self-dot mm precomputed once per centroid (recomputing it per
    (point, centroid) pair would double the interpreted HOF work)."""
    return spark.createDataFrame(
        [(cid, m[cid], sum(v * v for v in m[cid])) for cid in sorted(m)],
        "cell int, cm array<bigint>, mm bigint",
    )


def _nearest_cells_int(
    q: DataFrame, cents: DataFrame, n: int, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(id, u, cell, cell_rank[, keep...]): each point's n nearest
    trained centroids by the integer comparable B (tie → smallest
    cell) — the ONE probe rule for every trained-quantizer consumer.
    The centroid frame is k rows — broadcast, window bounded to k rows
    per point. ``keep`` carries extra columns through (e.g. qv/cm for
    IVF-PQ's per-cell query residuals)."""
    b = (
        "mm - 2 * aggregate(zip_with(qv, cm, (x, y) -> x * y),"
        " cast(0 as bigint), (acc, x) -> acc + x)"
    )
    scored = q.crossJoin(F.broadcast(cents)).select(
        "id", "u", "cell", *keep, F.expr(b).alias("_b")
    )
    w = Window.partitionBy("id").orderBy(F.asc("_b"), F.asc("cell"))
    return (
        scored.withColumn("cell_rank", F.row_number().over(w))
        .where(F.col("cell_rank") <= n)
        .select("id", "u", "cell", "cell_rank", *keep)
    )


def ivf_kmeans_exact_topk(
    emb: DataFrame,
    query_ids_max: int,
    k: int = 10,
    n_cells: int = N_CELLS,
    n_probe: int = 3,
    iters: int = N_ITERS,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-Flat search with the TRAINED integer quantizer — the
    trained-cell counterpart of operators/ivf.py's ivf_topk, and
    oracle-exact: cell assignment/probing use the integer
    comparable, the final ranking is exact cosine on unit vectors
    (left-to-right, bit-identical cross-engine). Same output schema as
    ivf_topk: (q_id, rank, cand_id, cos)."""
    m = _fit(emb, n_cells, iters, dim, id_col, vec_col)
    # candidates: expression-only assignment (rank-1 == argmin);
    # probes: rank <= n_probe needs the bounded k-rows-per-id window
    assigned = _assigned_cols(emb, m, id_col, vec_col).select(
        F.col("id").alias("cand_id"), F.col("u").alias("cu"), "cell"
    )
    probes = _nearest_cells_int(
        _quantized(emb, id_col, vec_col).where(F.col("id") < query_ids_max),
        _cents_frame(emb.sparkSession, m),
        n_probe,
    ).select(F.col("id").alias("q_id"), F.col("u").alias("qu"), "cell")
    return _search_tail(assigned, probes, k)


def semantic_dedup_trained(
    emb: DataFrame,
    n_cells: int = N_CELLS,
    threshold: float = 0.4,
    iters: int = N_ITERS,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup with the TRAINED quantizer — dedup.semantic_dedup's
    docstring names this exact upgrade ('swap in kmeans centroids for
    the production balanced variant') but MLlib's RNG made it
    rows-only; the integer Lloyd's gives balanced cells AND the
    bit-exact gate. Near-dup pairs (cos >= threshold) are found ONLY
    within a trained cell, bounding the quadratic term to the largest
    cell (Abbas et al. 2023's premise: trained cells are what keep
    that bound tight). Output: (cell, id_a, id_b, cos)."""
    m = _fit(emb, n_cells, iters, dim, id_col, vec_col)
    # expression-only assignment: each self-join side recomputes one
    # narrow projection over the base scan — no persist, no window
    assigned = _assigned_cols(emb, m, id_col, vec_col)
    a = assigned.select("cell", F.col("id").alias("id_a"), F.col("u").alias("ua"))
    b = assigned.select("cell", F.col("id").alias("id_b"), F.col("u").alias("ub"))
    pairs = a.join(b, "cell").where(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select("cell", "id_a", "id_b", F.expr(dot_sql("ua", "ub")).alias("cos"))
        .where(F.col("cos") >= threshold)
        .select("cell", "id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def semantic_dedup_trained_oracle_sql(
    table: str,
    n_cells: int = N_CELLS,
    threshold: float = 0.4,
    iters: int = N_ITERS,
    dim: int = DIM,
) -> str:
    ctes, cfinal = _kmeans_ctes(table, n_cells, iters, dim)
    ctes.append(
        "assigned AS MATERIALIZED (SELECT id, u, cid AS cell FROM ("
        f"{_ranked_cells_sql(cfinal)}) z WHERE rn = 1)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(a.cell AS INTEGER) AS cell, a.id AS id_a, b.id AS id_b,
       round(list_dot_product(a.u, b.u), 6) AS cos
FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.id < b.id
WHERE list_dot_product(a.u, b.u) >= {threshold}
"""
    )


KS_CURVE = (2, 4, 8)


def kmeans_sse_curve(
    emb: DataFrame,
    ks: tuple[int, ...] = KS_CURVE,
    iters: int = N_ITERS,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ORACLE-EXACT k SELECTION — the unsupervised analog of
    quality_model_selection: fit the integer Lloyd's at each candidate
    k, score each fit by its exact integer SSE
    (Σ ||q − m_assigned||² = Σ (q·q + B_min) — every term integer), and
    pick k by the deterministic elbow rule: the smallest k whose
    successor improves SSE by less than 10% (10·sse_next > 9·sse_k);
    if every step keeps improving ≥10%, the largest k. Train,
    evaluate AND select replay bit-exactly in DuckDB. Output: one row
    per k — (k, sse, selected)."""
    qq = (
        "aggregate(zip_with(qv, qv, (x, y) -> x * y), cast(0 as bigint),"
        " (acc, x) -> acc + x)"
    )
    sse = {}
    # ONE persisted quantized frame shared by every fit and every SSE
    # aggregate (this eager query runs at build in every sweep pass)
    qf = _quantized(emb, id_col, vec_col).persist()
    try:
        for k in sorted(ks):
            m = _fit(emb, k, iters, dim, id_col, vec_col, q=qf)
            d = F.expr(qq) + F.least(*[F.col(f"b{c}") for c in range(k)])
            r = (
                qf.select("qv", *_b_exprs(m))
                .agg(F.sum(d).alias("sse"))
                .collect()[0]
            )
            sse[k] = int(r["sse"])
    finally:
        qf.unpersist()
    ordered = sorted(ks)
    kstar = ordered[-1]
    for a, b in zip(ordered, ordered[1:]):
        if 10 * sse[b] > 9 * sse[a]:
            kstar = a
            break
    rows = [(k, sse[k], k == kstar) for k in ordered]
    return emb.sparkSession.createDataFrame(
        rows, "k int, sse bigint, selected boolean"
    )


def kmeans_sse_curve_oracle_sql(
    table: str,
    ks: tuple[int, ...] = KS_CURVE,
    iters: int = N_ITERS,
    dim: int = DIM,
) -> str:
    """One WITH: the shared un/pts/dims prefix, a prefixed fit replay
    per candidate k, an SSE aggregate per fit, and the same elbow rule
    (lead() over the 3-row curve)."""
    ctes = _base_ctes(table, dim)
    sses = []
    for k in sorted(ks):
        kctes, cfinal = _kmeans_ctes(table, k, iters, dim, prefix=f"k{k}_", base=False)
        ctes.extend(kctes)
        ctes.append(
            # per-term BIGINT cast → the sum runs in HUGEINT; a DOUBLE
            # accumulation would round past 2^53 (~3e7 rows)
            f"sse{k} AS MATERIALIZED (SELECT CAST({k} AS INTEGER) AS k, "
            "CAST(sum(CAST(qq + mb AS BIGINT)) AS BIGINT) AS sse FROM ("
            "SELECT p.id, min(list_dot_product(p.qv::DOUBLE[], p.qv::DOUBLE[])) AS qq, "
            f"min({_B_SQL}) AS mb FROM pts p CROSS JOIN {cfinal} c GROUP BY p.id) t)"
        )
        sses.append(f"SELECT k, sse FROM sse{k}")
    ctes.append("curve AS MATERIALIZED (" + " UNION ALL ".join(sses) + ")")
    ctes.append(
        "nxt AS (SELECT k, sse, lead(sse) OVER (ORDER BY k) AS nsse FROM curve)"
    )
    ctes.append(
        "pick AS (SELECT coalesce("
        "(SELECT min(k) FROM nxt WHERE nsse IS NOT NULL AND 10 * nsse > 9 * sse), "
        "(SELECT max(k) FROM curve)) AS kstar)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT k, sse, k = (SELECT kstar FROM pick) AS selected FROM curve"
    )


# --- streaming mini-batch Lloyd's (sequential k-means) ----------------------
#
# The stateful-streaming LEARNING member of the oracle-exact trained
# families: centroids evolve across ordered micro-batches with
# CUMULATIVE integer state (s_k, c_k), m_k = floor-div half-up mean
# after every batch. Batches are ARITHMETIC id buckets
# (floor(id / W), W = floor(max_id / n) + 1 — the round-3 bucketing
# lesson: closed-form membership, no sampling job), so DuckDB replays
# the exact batch sequence as chained CTEs. The k seed vectors enter
# the state once at init (c=1 prior) and again as batch-0
# observations — a documented warm-start convention, identical in
# both engines.


def minibatch_seed_state(
    q: DataFrame, k: int
) -> dict[int, tuple[list[int], int]]:
    """{cid: (s_vec, c)} from the shared seed contract (c=1, s=qv:
    floor-div of (2s+1, 2) gives back s exactly, so the seed centroid
    IS the seed vector)."""
    return {cid: (vec, 1) for cid, vec in _seed_vectors(q, k).items()}


def state_centroids(
    state: dict[int, tuple[list[int], int]],
) -> dict[int, list[int]]:
    return {
        cid: [(2 * sj + c) // (2 * c) for sj in s]
        for cid, (s, c) in state.items()
    }


def minibatch_update(
    state: dict[int, tuple[list[int], int]],
    cell_sums: dict[int, tuple[list[int], int]],
) -> dict[int, tuple[list[int], int]]:
    """Fold one micro-batch's per-cell (sum_vec, count) into the
    cumulative state."""
    out = {}
    for cid, (s, c) in state.items():
        bs, bc = cell_sums.get(cid, ([0] * len(s), 0))
        out[cid] = ([sj + bj for sj, bj in zip(s, bs)], c + bc)
    return out


def streaming_minibatch_oracle_sql(
    table: str,
    n_batches: int = N_BATCHES,
    k: int = N_CELLS,
    dim: int = DIM,
) -> str:
    """Chained-CTE replay of the whole ordered mini-batch run: per
    batch an assignment (against the PREVIOUS state's centroids), a
    per-cell aggregate, and a cumulative state update. Output: one row
    per (batch, cell) — (batch, cell, n_batch, n_cum)."""
    fd = _floor_div_sql("2 * s + c", "2 * c")
    ctes = _base_ctes(table, dim) + [
        # arithmetic bucket width from the data — closed-form batches
        f"w AS (SELECT (max(id) // {n_batches}) + 1 AS w FROM pts)",
        # state 0: per-(cid, i) sums with c = 1
        "sts0 AS MATERIALIZED (SELECT p.id AS cid, d.i, p.qv[d.i] AS s, "
        f"CAST(1 AS BIGINT) AS c FROM pts p CROSS JOIN dims d WHERE p.id < {k})",
        f"m0 AS MATERIALIZED (SELECT cid, list({fd} ORDER BY i) AS m "
        "FROM sts0 GROUP BY cid)",
    ]
    for b in range(n_batches):
        ctes.append(
            f"a{b} AS MATERIALIZED (SELECT id, cid AS bk FROM ("
            f"{_ranked_cells_sql(f'm{b}', f' WHERE p.id // (SELECT w FROM w) = {b}')}"
            ") z WHERE rn = 1)"
        )
        ctes.append(
            f"bs{b} AS MATERIALIZED (SELECT a.bk AS cid, d.i, "
            "CAST(sum(p.qv[d.i]) AS BIGINT) AS s, "
            "CAST(count(*) AS BIGINT) AS c "
            f"FROM a{b} a JOIN pts p ON p.id = a.id CROSS JOIN dims d "
            "GROUP BY a.bk, d.i)"
        )
        ctes.append(
            f"sts{b + 1} AS MATERIALIZED (SELECT prev.cid, prev.i, "
            "prev.s + coalesce(nb.s, 0) AS s, prev.c + coalesce(nb.c, 0) AS c "
            f"FROM sts{b} prev LEFT JOIN bs{b} nb "
            "ON nb.cid = prev.cid AND nb.i = prev.i)"
        )
        ctes.append(
            f"m{b + 1} AS MATERIALIZED (SELECT cid, list({fd} ORDER BY i) AS m "
            f"FROM sts{b + 1} GROUP BY cid)"
        )
    emits = [
        f"SELECT CAST({b} AS BIGINT) AS batch, CAST(st.cid AS INTEGER) AS cell, "
        "CAST(coalesce(nb.c, 0) AS BIGINT) AS n_batch, "
        "CAST(st.c AS BIGINT) AS n_cum "
        f"FROM (SELECT DISTINCT cid, c FROM sts{b + 1}) st "
        f"LEFT JOIN (SELECT DISTINCT cid, c FROM bs{b}) nb ON nb.cid = st.cid"
        for b in range(n_batches)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(emits)


# --- persisted centroid store: incremental cross-batch learning ------------
#
# The signature-store pattern (operators/dedup.py build_signature_store)
# applied to the mini-batch LEARNER: the cumulative integer state
# {cid: (s_vec, c)} lives in a manifest-guarded parquet store, so a NEW
# day's batch updates centroids trained on every previous day — across
# PROCESSES, not just across micro-batches of one stream. Every update
# stays on the integer grid, so the whole multi-day evolution replays
# bit-exactly in DuckDB (streaming_minibatch_oracle_sql gates the
# arithmetic-bucket feed end to end).

_KMEANS_STORE_FORMAT = "kmeans-int-state-v1"


def _store_manifest_path(path: str) -> str:
    from tabsketchfm_spark.sources.store_util import manifest_path

    return manifest_path(path)


def kmeans_store_read(
    spark, path: str, k: int = N_CELLS, dim: int = DIM
) -> tuple[dict[int, tuple[list[int], int]], int]:
    """Manifest-guarded read → ({cid: (s_vec, c)}, n_updates). Fails
    LOUD on format/k/dim/scale mismatch (a state trained on another
    grid would silently mis-assign every vector) and on a missing
    store (callers decide whether cold start is allowed)."""
    from tabsketchfm_spark.sources.store_util import read_manifest

    m = read_manifest(path)
    if (
        m["format"] != _KMEANS_STORE_FORMAT
        or m["k"] != k
        or m["dim"] != dim
        or m["scale"] != SCALE
    ):
        raise IOError(
            f"kmeans store at {path} is {m['format']} k={m['k']} "
            f"dim={m['dim']} scale={m['scale']}; caller requested "
            f"k={k} dim={dim} scale={SCALE}"
        )
    from tabsketchfm_spark.sources.store_util import read_small_parquet

    rows = read_small_parquet(f"{path}/{m['state_dir']}")
    state = {int(r["cid"]): ([int(v) for v in r["s"]], int(r["c"])) for r in rows}
    if len(state) != k:
        raise IOError(f"kmeans store at {path} holds {len(state)} cells, not {k}")
    return state, int(m["n_updates"])


def kmeans_store_write(
    spark,
    path: str,
    state: dict[int, tuple[list[int], int]],
    n_updates: int,
    dim: int = DIM,
) -> None:
    """Commit the state: write a FRESH ``state_<n>`` subdir first, then
    flip the manifest pointer — no in-place rewrite of live files
    (object-store-friendly; a crashed write leaves the previous
    manifest pointing at intact state)."""
    state_dir = f"state_{n_updates:06d}"
    # k-row driver-resident state — direct pyarrow commit (a Spark
    # write job per tiny artifact cost ~1s of scheduler round-trip per
    # store commit; round-12 suite/window latency work)
    import pyarrow as pa

    from tabsketchfm_spark.sources.store_util import write_small_parquet

    write_small_parquet(
        f"{path}/{state_dir}",
        [(cid, s, c) for cid, (s, c) in sorted(state.items())],
        pa.schema(
            [("cid", pa.int32()), ("s", pa.list_(pa.int64())), ("c", pa.int64())]
        ),
    )
    from tabsketchfm_spark.sources.store_util import write_manifest

    write_manifest(
        path,
        {
            "format": _KMEANS_STORE_FORMAT,
            "k": len(state),
            "dim": dim,
            "scale": SCALE,
            "n_updates": n_updates,
            "state_dir": state_dir,
        },
    )


def kmeans_store_init(
    spark,
    corpus: DataFrame,
    path: str,
    k: int = N_CELLS,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Explicit store bootstrap from a corpus frame: seed the state via
    the shared ``_seed_vectors`` contract (quantized vectors of ids
    0..k-1) and commit it at version 0. Matches the streaming twin's
    whole-table seeding — kmeans_store_run must init this way or a
    small table whose bucket 0 lacks ids 0..k-1 would crash where the
    oracle succeeds (round-8 review finding). Leased like every other
    manifest writer: an init racing a live update would otherwise
    silently discard whichever flip lands first."""
    from tabsketchfm_spark.sources.store_util import writer_lease

    q = _quantized(corpus, id_col, vec_col)
    state = minibatch_seed_state(q, k)
    with writer_lease(path, owner="kmeans_store_init"):
        kmeans_store_write(spark, path, state, 0, dim)


def kmeans_store_update(
    spark,
    batch: DataFrame,
    path: str,
    k: int = N_CELLS,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int, int]]:
    """One arriving batch updates the PERSISTED centroid state: read
    the store (COLD START: absent store seeds from this batch via the
    shared ``_seed_vectors`` contract — ids 0..k-1 must be present),
    assign the batch against the current centroids (one expression-only
    aggregate), fold the per-cell integer sums, commit. Returns one
    (cell, n_batch, n_cum) tuple per cell — the streaming twin's
    per-batch emission, so a sequence of store updates over the same
    batches is bit-equal to streaming_kmeans_minibatch. The store's
    writer lease covers the whole read→fold→commit: two concurrent
    updates would each fold from the same base state and the second
    flip would silently drop the first batch's contribution."""
    import os

    from tabsketchfm_spark.sources.store_util import acquire_lease, release_lease

    # lease BEFORE the persist: a lease-conflict raise must not leak
    # an eagerly-registered cache entry (review finding)
    acquire_lease(path, owner="kmeans_store_update")
    q = None
    try:
        q = _quantized(batch, id_col, vec_col).persist()
        if os.path.exists(_store_manifest_path(path)):
            state, n_updates = kmeans_store_read(spark, path, k, dim)
        else:
            state, n_updates = minibatch_seed_state(q, k), 0
        sums = cell_aggregate(q, state_centroids(state), dim)
        state = minibatch_update(state, sums)
        kmeans_store_write(spark, path, state, n_updates + 1, dim)
        return [
            (cid, sums.get(cid, ([], 0))[1], state[cid][1])
            for cid in sorted(state)
        ]
    finally:
        release_lease(path)
        if q is not None:
            q.unpersist()


def kmeans_store_run(
    spark,
    sf_dir: str,
    n_batches: int | None = None,
) -> DataFrame:
    """The registered multi-day lifecycle: split the embeddings into
    the SAME arithmetic id buckets the streaming learner feeds
    (floor(id/W), W = max_id//n + 1 over the degenerate-filtered
    population), then push each bucket through kmeans_store_update
    against a fresh store — every update re-READS the state from disk,
    so the evolution crosses process-state boundaries for real. Output
    (batch, cell, n_batch, n_cum) is gated bit-exactly by
    streaming_minibatch_oracle_sql — the same replay that gates the
    in-process streaming twin; the store is kmeans_store_init'ed from
    the whole filtered population first (the oracle's sts0 seed)."""
    import shutil
    import tempfile

    from tabsketchfm_spark.sources.tables import load_table

    if n_batches is None:
        n_batches = N_BATCHES
    raw = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    emb = valid_rows(raw, "vec_id", "embedding").persist()
    store = tempfile.mkdtemp(prefix="tsfm_kmeans_store_")
    try:
        max_id = int(emb.agg(F.max("vec_id")).collect()[0][0])
        width = max_id // n_batches + 1
        # seed from the WHOLE filtered population (the streaming twin's
        # and the oracle's sts0 contract) — batch-0 cold start only
        # coincides with it while width > k
        kmeans_store_init(spark, emb, store)
        rows = []
        for b in range(n_batches):
            batch = emb.where(F.floor(F.col("vec_id") / width) == b)
            rows.extend(
                (b, cid, nb, nc)
                for cid, nb, nc in kmeans_store_update(spark, batch, store)
            )
        return spark.createDataFrame(
            rows, "batch bigint, cell int, n_batch bigint, n_cum bigint"
        )
    finally:
        emb.unpersist()
        shutil.rmtree(store, ignore_errors=True)


def kmeans_store_autorefresh(
    spark,
    batch: DataFrame,
    path: str,
    corpus: DataFrame,
    threshold_ppm: int,
    extra_rounds: int = 2,
    k: int = N_CELLS,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """Drift-gated RETARGET for the persisted centroid store — the
    ivfpq_store_autorefresh pattern (round-11) ported to the k-means
    state store, completing the maintenance matrix (round-11 verdict
    item 2): measure the arriving batch's assignment drift against the
    stored per-cell counts, ABSORB the batch (the ordinary cumulative
    fold), and — iff the normalized L1 drift is at least
    ``threshold_ppm`` parts-per-million — RETARGET: ``extra_rounds``
    warm integer Lloyd rounds over ``corpus`` seeded from the
    POST-ABSORB centroids, then the state's sum vectors are rewritten
    to ``s = m·c`` (cumulative counts PRESERVED — the next fold keeps
    its inertia; the floor-div read-back returns exactly ``m``, so the
    retargeted centroids are stored losslessly on the integer grid).

    The decision is exact integer arithmetic over the k-row state +
    one assignment aggregate, so the whole branch replays as DuckDB
    scalar subqueries (kmeans_store_autorefresh_oracle_sql) and the
    composite is oracle-gated on EITHER path. An empty batch (D = 0)
    never fires, never folds and never commits — mirroring the ivfpq
    twin's zero-row micro-batch rule. ONE writer lease wraps the whole
    measure→absorb→retarget RMW (per-step leases would let a
    concurrent update land between the fold and the retarget and be
    silently overwritten by the state write).

    Contract notes vs the ivfpq twin: this store is an AGGREGATE
    (per-cell sums, no ids), so there is no left_anti retry guard —
    a redelivered batch double-counts here exactly as it does in
    kmeans_store_update; feed discipline (the arithmetic-bucket
    contract) is the dedup boundary. Returns whether the retarget
    fired."""
    from tabsketchfm_spark.sources.store_util import acquire_lease, release_lease

    acquire_lease(path, owner="kmeans_store_autorefresh", require_store=True)
    q = qc = None
    try:
        q = _quantized(batch, id_col, vec_col).persist()
        state, n_updates = kmeans_store_read(spark, path, k, dim)
        sums = cell_aggregate(q, state_centroids(state), dim)
        from tabsketchfm_spark.operators.pq import coarse_drift_ppm

        cells = [
            {
                "corpus_cnt": state[cid][1],
                "delta_cnt": sums.get(cid, ([], 0))[1],
            }
            for cid in sorted(state)
        ]
        C, D, S = coarse_drift_ppm(cells)
        trig = C > 0 and D > 0 and 1_000_000 * S >= threshold_ppm * C * D
        if D == 0:
            return False
        state = minibatch_update(state, sums)
        if trig:
            qc = _quantized(corpus, id_col, vec_col).persist()
            # loud floor guard (the re-encode rule): a retarget over an
            # accidentally-empty corpus would anchor every centroid to
            # its current position while claiming a refresh happened
            if qc.limit(1).count() == 0:
                raise ValueError(
                    "kmeans autorefresh: empty corpus — refusing to "
                    "retarget against nothing (pass the post-absorb "
                    "population frame)"
                )
            m_warm = _lloyd_centroids(
                qc, k, extra_rounds, dim, init=state_centroids(state)
            )
            state = {
                cid: ([mj * c for mj in m_warm[cid]], c)
                for cid, (_s, c) in state.items()
            }
        kmeans_store_write(spark, path, state, n_updates + 1, dim)
        return trig
    finally:
        release_lease(path)
        for f in (q, qc):
            if f is not None:
                f.unpersist()


def kmeans_store_autorefresh_run(
    spark,
    sf_dir: str,
    boundary: int = 400,
    threshold_ppm: int = 100_000,
    extra_rounds: int = 2,
) -> DataFrame:
    """The registered composite: init + fold the build slice
    (id < ``boundary``) into a fresh store, then one autorefresh call
    with the id-suffix delta against the full population as retarget
    corpus. Output: one row per cell — (cell, fired, n_cum, m_csv),
    the final stored state with its centroid read back as a
    comma-joined scalar (the driver's canonicalizer cannot sort
    array-valued columns — round-12 verdict; integer components join
    identically in both engines) — gated bit-exactly by
    kmeans_store_autorefresh_oracle_sql on EITHER branch."""
    import shutil
    import tempfile

    from tabsketchfm_spark.sources.tables import load_table

    raw = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    emb = valid_rows(raw, "vec_id", "embedding").persist()
    store = tempfile.mkdtemp(prefix="tsfm_kmeans_ar_")
    try:
        core = emb.where(F.col("vec_id") < boundary)
        delta = emb.where(F.col("vec_id") >= boundary)
        kmeans_store_init(spark, core, store)
        kmeans_store_update(spark, core, store)
        fired = kmeans_store_autorefresh(
            spark, delta, store, emb, threshold_ppm, extra_rounds
        )
        state, _n = kmeans_store_read(spark, store)
        cents = state_centroids(state)
        rows = [
            (
                cid,
                bool(fired),
                int(c),
                ",".join(str(int(v)) for v in cents[cid]),
            )
            for cid, (_s, c) in sorted(state.items())
        ]
        return spark.createDataFrame(
            rows, "cell int, fired boolean, n_cum bigint, m_csv string"
        )
    finally:
        emb.unpersist()
        shutil.rmtree(store, ignore_errors=True)


def kmeans_store_autorefresh_oracle_sql(
    table: str,
    boundary: int = 400,
    threshold_ppm: int = 100_000,
    extra_rounds: int = 2,
    k: int = N_CELLS,
    dim: int = DIM,
) -> str:
    """The composite's twin: seed state from the build slice's ids
    0..k-1 (c = 1 prior), fold the build slice, assign the delta under
    the post-fold centroids, the exact-integer ppm decision as a
    one-row scalar CTE (HUGEINT products), fold the delta, and BOTH
    branches — warm Lloyd rounds over the full population seeded from
    the post-absorb centroids (point source GATED by the trigger, so
    the dead branch runs over zero rows — round-11 final-pass lesson)
    vs the untouched post-absorb centroids — with the final SELECT
    taking whichever the trigger chose."""
    fd = _floor_div_sql("2 * s + c", "2 * c")
    ctes = _base_ctes(table, dim) + [
        f"cpts AS MATERIALIZED (SELECT * FROM pts WHERE id < {boundary})",
        f"dpts AS MATERIALIZED (SELECT * FROM pts WHERE id >= {boundary})",
        # seed state: quantized vectors of ids 0..k-1, c = 1 prior
        "sts0 AS MATERIALIZED (SELECT p.id AS cid, d.i, p.qv[d.i] AS s, "
        f"CAST(1 AS BIGINT) AS c FROM cpts p CROSS JOIN dims d WHERE p.id < {k})",
        f"m0 AS MATERIALIZED (SELECT cid, list({fd} ORDER BY i) AS m "
        "FROM sts0 GROUP BY cid)",
        # fold the build slice (kmeans_store_update(core))
        "a0 AS MATERIALIZED (SELECT id, cid AS bk FROM ("
        + _ranked_cells_sql("m0", pts="cpts")
        + ") z WHERE rn = 1)",
        "bs0 AS MATERIALIZED (SELECT a.bk AS cid, d.i, "
        "CAST(sum(p.qv[d.i]) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c "
        "FROM a0 a JOIN cpts p ON p.id = a.id CROSS JOIN dims d "
        "GROUP BY a.bk, d.i)",
        "sts1 AS MATERIALIZED (SELECT prev.cid, prev.i, "
        "prev.s + coalesce(nb.s, 0) AS s, prev.c + coalesce(nb.c, 0) AS c "
        "FROM sts0 prev LEFT JOIN bs0 nb "
        "ON nb.cid = prev.cid AND nb.i = prev.i)",
        f"m1 AS MATERIALIZED (SELECT cid, list({fd} ORDER BY i) AS m "
        "FROM sts1 GROUP BY cid)",
        # delta assignment under the CURRENT (post-build) centroids
        "ad AS MATERIALIZED (SELECT id, cid AS bk FROM ("
        + _ranked_cells_sql("m1", pts="dpts")
        + ") z WHERE rn = 1)",
        # exact-integer drift decision (the _drift_decision_ctes shape,
        # corpus side pre-aggregated: the state's cumulative counts)
        "spine AS (SELECT DISTINCT cid AS cell FROM m1)",
        "cdist AS MATERIALIZED (SELECT sp.cell, coalesce(t.c, 0) AS c "
        "FROM spine sp LEFT JOIN (SELECT DISTINCT cid AS cell, c FROM sts1) t "
        "ON t.cell = sp.cell)",
        "ddist AS MATERIALIZED (SELECT sp.cell, coalesce(t.c, 0) AS c "
        "FROM spine sp LEFT JOIN (SELECT bk AS cell, CAST(count(*) AS BIGINT) "
        "AS c FROM ad GROUP BY bk) t ON t.cell = sp.cell)",
        "tots AS MATERIALIZED (SELECT (SELECT sum(c) FROM cdist) AS tc, "
        "(SELECT sum(c) FROM ddist) AS td)",
        "decision AS MATERIALIZED (SELECT "
        "(SELECT tc FROM tots) > 0 AND (SELECT td FROM tots) > 0 AND "
        "1000000 * (SELECT sum(abs(CAST(d.c AS HUGEINT) * (SELECT tc FROM tots)"
        " - CAST(c2.c AS HUGEINT) * (SELECT td FROM tots))) "
        "FROM cdist c2 JOIN ddist d USING (cell)) >= "
        f"CAST({threshold_ppm} AS HUGEINT) * (SELECT tc FROM tots) * "
        "(SELECT td FROM tots) AS trig)",
        # absorb the delta
        "bsd AS MATERIALIZED (SELECT a.bk AS cid, d.i, "
        "CAST(sum(p.qv[d.i]) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c "
        "FROM ad a JOIN dpts p ON p.id = a.id CROSS JOIN dims d "
        "GROUP BY a.bk, d.i)",
        "sts2 AS MATERIALIZED (SELECT prev.cid, prev.i, "
        "prev.s + coalesce(nb.s, 0) AS s, prev.c + coalesce(nb.c, 0) AS c "
        "FROM sts1 prev LEFT JOIN bsd nb "
        "ON nb.cid = prev.cid AND nb.i = prev.i)",
        f"m2 AS MATERIALIZED (SELECT cid, list({fd} ORDER BY i) AS m "
        "FROM sts2 GROUP BY cid)",
        # warm branch: point source gated by the trigger
        "wpts AS MATERIALIZED (SELECT * FROM pts "
        "WHERE (SELECT trig FROM decision))",
    ]
    wctes, wfinal = _kmeans_ctes(
        table,
        k,
        extra_rounds,
        dim,
        prefix="w",
        base=False,
        pts="wpts",
        init_sql="SELECT cid, m FROM m2",
    )
    ctes.extend(wctes)
    ctes.append("cnts AS (SELECT DISTINCT cid, c FROM sts2)")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(n.cid AS INTEGER) AS cell, (SELECT trig FROM decision) AS fired,
       CAST(n.c AS BIGINT) AS n_cum, array_to_string(w.m, ',') AS m_csv
FROM cnts n JOIN {wfinal} w ON w.cid = n.cid
WHERE (SELECT trig FROM decision)
UNION ALL
SELECT CAST(n.cid AS INTEGER) AS cell, (SELECT trig FROM decision) AS fired,
       CAST(n.c AS BIGINT) AS n_cum, array_to_string(m2.m, ',') AS m_csv
FROM cnts n JOIN m2 ON m2.cid = n.cid
WHERE NOT (SELECT trig FROM decision)
"""
    )


# --- bisecting k-means: hierarchical integer Lloyd's -----------------------
#
# The divisive variant (Steinbach-Karypis bisecting k-means — the
# MLlib BisectingKMeans shape) on the SAME integer frame: start with
# one cluster, repeatedly 2-means-split the largest cluster until k.
# Every split is the established integer Lloyd loop (seeds = the two
# smallest ids IN the cluster), the split choice is deterministic
# (largest count, tie → smallest cluster id), and each point's final
# cluster is a pure expression over per-split decision BITS — so the
# whole hierarchical training replays bit-exactly in DuckDB via
# chained scalar-subquery CTEs (the split target and seeds are
# data-dependent, exactly like the BPE merge choices).

_BISECT_MEMO: dict[tuple, list] = {}


def clear_bisect_memo() -> None:
    _BISECT_MEMO.clear()


_DEPENDENT_MEMO_CLEARS.append(clear_bisect_memo)


def _bisect_asg_over_bits(splits: list) -> F.Column:
    """Final cluster id from the split-decision bit columns d1..dS
    (d_s TRUE → the parent side of split s). The bits carry all the
    HOF dot work (computed once per row in a projection); this
    when-chain nests only cheap int/boolean nodes, so the k-deep tree
    cannot blow up the expression with duplicated 64-term dots."""
    asg = F.lit(0)
    for s, (parent, newid, _ma, _mb) in enumerate(splits, 1):
        asg = (
            F.when((asg == parent) & F.col(f"d{s}"), F.lit(parent))
            .when(asg == parent, F.lit(newid))
            .otherwise(asg)
        )
    return asg


def _bisect_bit_expr(ma: list[int], mb: list[int]) -> F.Column:
    """The split decision bit as ONE delta dot: B(ma) <= B(mb) ⟺
    2·(qv·(mb−ma)) <= mb·mb − ma·ma — integer-exactly equivalent to
    comparing the two comparables but half the interpreted HOF work
    per row (round-8 review finding). Same tie rule as the 2-cell
    when-chain argmin (tie → TRUE → parent = smaller cell id)."""
    delta = [b - a for a, b in zip(ma, mb)]
    rhs = sum(b * b for b in mb) - sum(a * a for a in ma)
    arr = ", ".join(f"cast({v} as bigint)" for v in delta)
    dot = (
        f"aggregate(zip_with(qv, array({arr}), (x, y) -> x * y), "
        "cast(0 as bigint), (acc, x) -> acc + x)"
    )
    return F.expr(f"2 * ({dot}) <= cast({rhs} as bigint)")


def _bisect_proj(q: DataFrame, splits: list) -> DataFrame:
    """(id, qv, d1..dS): one decision bit per split."""
    return q.select(
        "id",
        "qv",
        *[
            _bisect_bit_expr(ma, mb).alias(f"d{s}")
            for s, (_p, _n, ma, mb) in enumerate(splits, 1)
        ],
    )


def _bisect_fit(
    emb: DataFrame,
    k: int,
    iters: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> list[tuple[int, int, list[int], list[int]]]:
    """The driver-coordinated divisive loop; returns the ordered split
    records [(parent_cluster, new_cluster_id, m_parent, m_new)].
    Memoized like _fit. Raises when no cluster of size >= 2 remains
    before reaching k (the oracle would silently emit fewer clusters
    there — the loud side of the asymmetry is ours)."""
    if k < 1:
        raise ValueError("bisecting k-means needs k >= 1")
    key = (emb._jdf.semanticHash(), id_col, vec_col, k, iters, dim, SCALE)
    hit = _BISECT_MEMO.get(key)
    if hit is not None:
        return hit
    q = _quantized(emb, id_col, vec_col).persist()
    try:
        splits: list[tuple[int, int, list[int], list[int]]] = []
        for s in range(1, k):
            proj = _bisect_proj(q, splits)
            asg = _bisect_asg_over_bits(splits)
            counts = (
                proj.select(asg.alias("a")).groupBy("a").count().collect()
            )
            eligible = [
                (int(r["count"]), int(r["a"])) for r in counts if r["count"] >= 2
            ]
            if not eligible:
                raise ValueError(
                    f"bisecting k-means: no cluster of size >= 2 left after "
                    f"{s - 1} splits (k={k} unreachable)"
                )
            target = min((-c, a) for c, a in eligible)[1]
            seeds = (
                proj.where(asg == target)
                .select("id", "qv")
                .orderBy("id")
                .limit(2)
                .collect()
            )
            m = {
                0: [int(v) for v in seeds[0]["qv"]],
                1: [int(v) for v in seeds[1]["qv"]],
            }
            member = proj.where(asg == target)
            for _ in range(iters):
                new = dict(m)
                for cid, (sv, c) in cell_aggregate(member, m, dim).items():
                    new[cid] = [(2 * sj + c) // (2 * c) for sj in sv]
                m = new
            splits.append((target, s, m[0], m[1]))
        _BISECT_MEMO[key] = splits
        return splits
    finally:
        q.unpersist()


def bisecting_kmeans_assign(
    emb: DataFrame,
    k: int = N_CELLS,
    iters: int = N_ITERS,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fit the divisive hierarchy and return the final (vec_id,
    cluster) assignment as a LAZY expression-only frame (the bit
    projection + the integer when-chain walk — no window, no join, no
    cache; the cluster_kmeans_exact serving shape). Cluster ids are
    0..k-1 in split-creation order. Bit-exact vs
    bisecting_kmeans_oracle_sql."""
    splits = _bisect_fit(emb, k, iters, dim, id_col, vec_col)
    proj = _bisect_proj(_quantized(emb, id_col, vec_col), splits)
    return proj.select(
        F.col("id").alias("vec_id"),
        _bisect_asg_over_bits(splits).cast("int").alias("cluster"),
    )


def bisecting_kmeans_oracle_sql(
    table: str, k: int = N_CELLS, iters: int = N_ITERS, dim: int = DIM
) -> str:
    """Chained replay of the WHOLE divisive run: per split a
    scalar-subquery target choice (largest cluster, tie → smallest
    id), the two smallest-id in-cluster seeds, the 2-cell Lloyd rounds
    (the retargeted _kmeans_ctes body — one copy of the round SQL),
    and the assignment update.

    DEGENERATE-DATA ASYMMETRY (intentional, loud-side-ours): when no
    cluster of size >= 2 remains before reaching k, _bisect_fit RAISES
    while this replay's tgt{s} subquery goes empty and the run
    silently emits fewer than k clusters. The parity row crashes on
    the Spark side only — a loud signal on data this operator was not
    meant for, never a silent hash mismatch."""
    if k < 1:
        # symmetric degenerate contract (the rounds/epochs=0 rule):
        # k=0 would emit `FROM bsg-1` — a binder crash, not a gate
        raise ValueError("bisecting k-means needs k >= 1")
    ctes = _base_ctes(table, dim)
    ctes.append("bsg0 AS MATERIALIZED (SELECT id, 0 AS a FROM pts)")
    for s in range(1, k):
        prev = f"bsg{s - 1}"
        ctes.append(
            f"tgt{s} AS MATERIALIZED (SELECT a FROM "
            f"(SELECT a, count(*) AS c FROM {prev} GROUP BY a) t "
            "WHERE c >= 2 ORDER BY c DESC, a LIMIT 1)"
        )
        ctes.append(
            f"mem{s} AS MATERIALIZED (SELECT p.* FROM pts p "
            f"JOIN {prev} g ON g.id = p.id "
            f"WHERE g.a = (SELECT a FROM tgt{s}))"
        )
        ctes.append(
            f"sd{s} AS MATERIALIZED (SELECT id, qv FROM mem{s} ORDER BY id LIMIT 2)"
        )
        init = (
            "SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS cid, "
            f"qv AS m FROM sd{s}"
        )
        sub, cfin = _kmeans_ctes(
            table, 2, iters, dim,
            prefix=f"b{s}", base=False, pts=f"mem{s}", init_sql=init,
        )
        ctes += sub
        ctes.append(
            f"bsg{s} AS MATERIALIZED (SELECT g.id, "
            "CASE WHEN z.id IS NULL THEN g.a "
            f"WHEN z.bk = 0 THEN g.a ELSE {s} END AS a "
            f"FROM {prev} g LEFT JOIN (SELECT id, cid AS bk FROM ("
            f"{_ranked_cells_sql(cfin, pts=f'mem{s}')}"
            ") zz WHERE rn = 1) z ON z.id = g.id)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id AS vec_id, CAST(a AS INTEGER) AS cluster FROM bsg{k - 1}\n"
    )


def ivf_kmeans_exact_topk_oracle_sql(
    table: str,
    query_ids_max: int,
    k: int = 10,
    n_cells: int = N_CELLS,
    n_probe: int = 3,
    iters: int = N_ITERS,
    dim: int = DIM,
) -> str:
    ctes, cfinal = _kmeans_ctes(table, n_cells, iters, dim)
    ctes.append(
        "assigned AS MATERIALIZED (SELECT id AS cand_id, u AS cu, cid AS cell FROM ("
        f"{_ranked_cells_sql(cfinal)}) z WHERE rn = 1)"
    )
    ctes.append(
        "probes AS MATERIALIZED (SELECT id AS q_id, u AS qu, cid AS cell FROM ("
        f"{_ranked_cells_sql(cfinal, f' WHERE p.id < {query_ids_max}')}) z "
        f"WHERE rn <= {n_probe})"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
scored AS (
  SELECT p.q_id, a.cand_id, list_dot_product(p.qu, a.cu) AS cos
  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.cand_id <> p.q_id),
ranked AS (
  SELECT q_id, cand_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id)
              AS INTEGER) AS rank
  FROM scored)
SELECT q_id, rank, cand_id, round(cos, 6) AS cos FROM ranked WHERE rank <= {k}
"""
    )

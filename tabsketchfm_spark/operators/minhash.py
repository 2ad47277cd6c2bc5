"""MinHash column sketches + sketch-based joinability search.

Re-designs SK1 (exact-value MinHash, reference data_prep.py:263-274),
SK2 (word-token MinHash, data_prep.py:213), and the flagship use —
"which columns in the lake are joinable with X?" (SURVEY §7.3) — as
pure column-expression SQL (functions/hashing.py family): no UDFs, and
the whole pipeline is reproducible inside the DuckDB oracle.

Scale shape: values are melted (one scan per table), hashed, and
min-aggregated with 100 MIN expressions — map-side partial aggregation
means only 100 longs per (table, column) cross the shuffle, independent
of row count. Signature comparison is then a join of tiny sketch
relations (broadcast-able at any scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tabsketchfm_spark.functions.hashing import (
    MINHASH_PRIME,
    NUM_PERM,
    h32_sql,
    minhash_agg_sql,
    perms_cte_duckdb,
)
from tabsketchfm_spark.functions.sqltext import sql_str_lit
from tabsketchfm_spark.operators.melt import melt_values


def _minhash_arrays(
    df: DataFrame, columns: list[str] | None, num_perm: int, words: bool
) -> DataFrame:
    """(column_name, minhash array<bigint>): the melt → h32 → MIN
    aggregate of every k-perm signature, one array slot per perm.
    ``words=True`` hashes the whitespace tokens of each value."""
    m = melt_values(df, columns)
    if words:
        m = m.select(
            "column_name", F.explode(F.split(F.col("v"), r"\s+")).alias("v")
        ).where(F.col("v") != "")
    h = F.expr(h32_sql("v", "spark")).alias("h")
    sigs = m.select("column_name", h).groupBy("column_name").agg(
        *[F.expr(s) for s in minhash_agg_sql("h", num_perm)]
    )
    mhs = ", ".join(f"mh{i}" for i in range(num_perm))
    return sigs.selectExpr("column_name", f"array({mhs}) AS minhash")


def minhash_signatures(
    df: DataFrame,
    table_name: str,
    columns: list[str] | None = None,
    num_perm: int = NUM_PERM,
    words: bool = False,
) -> DataFrame:
    """Long-format signatures: (table_name, column_name, perm, sig).

    ``words=True`` sketches whitespace tokens of each value instead of
    whole values (SK2 — joinability on text vocabulary).
    """
    tn = sql_str_lit(table_name)
    return _minhash_arrays(df, columns, num_perm, words).selectExpr(
        f"{tn} AS table_name", "column_name", "posexplode(minhash) AS (perm, sig)"
    )


def minhash_signatures_oracle_sql(
    table: str,
    columns: list[str],
    num_perm: int = NUM_PERM,
    words: bool = False,
) -> str:
    """DuckDB SQL producing identical (table_name, column_name, perm, sig)."""
    parts = []
    for c in columns:
        if words:
            vals = (
                f"SELECT w AS v FROM (SELECT unnest(string_split_regex("
                f"nullif(CAST({c} AS VARCHAR), ''), '\\s+')) AS w FROM {table}) "
                f"WHERE w IS NOT NULL AND w <> ''"
            )
        else:
            vals = (
                f"SELECT nullif(CAST({c} AS VARCHAR), '') AS v FROM {table} "
                f"WHERE nullif(CAST({c} AS VARCHAR), '') IS NOT NULL"
            )
        # md5 is perm-INVARIANT: hash once per value, then cross the
        # 100 perms over the precomputed hv (was 100x the md5 work)
        h = h32_sql("v", "duckdb")
        parts.append(
            f"""SELECT '{table}' AS table_name, '{c}' AS column_name,
                CAST(i AS INTEGER) AS perm, min((a * hv + b) % {MINHASH_PRIME}) AS sig
            FROM (SELECT {h} AS hv FROM ({vals}) vals) hvals, perms GROUP BY i"""
        )
    body = "\nUNION ALL\n".join(parts)
    return f"WITH perms AS ({perms_cte_duckdb(num_perm)})\n{body}"


def oph_signatures(
    df: DataFrame,
    table_name: str,
    columns: list[str] | None = None,
    num_buckets: int = NUM_PERM,
) -> DataFrame:
    """One-permutation-hashing MinHash (the 100 TB scale path).

    Instead of 100 independent permutations (100 expr evaluations per
    value — SK1), hash each value ONCE and keep the minimum per hash
    bucket ``h mod num_buckets``: one cheap expression per row and a
    (column, bucket) grouped MIN. Statistically equivalent to k-perm
    MinHash for sets ≫ num_buckets (Li et al., NeurIPS 2012, "One
    Permutation Hashing"); small sets leave empty buckets, which the
    estimator counts as disagreement (documented bias toward
    under-estimation on tiny columns).

    Output: (table_name, column_name, bucket, sig) — only non-empty
    buckets present.
    """
    # spread=False: one hash/row + grouped MIN is the textbook "cheap
    # wide agg" where the spread shuffle costs more than it saves
    # (CLAUDE.md round-3 lesson; r3 bench regression on all-pairs ×9
    # tables). k-perm minhash_signatures keeps the spread — 100 perm
    # expressions per row IS expression-heavy.
    m = melt_values(df, columns, spread=False)
    h = F.expr(h32_sql("v", "spark")).alias("h")
    return (
        m.select("column_name", h)
        .groupBy("column_name", (F.col("h") % num_buckets).cast("int").alias("bucket"))
        .agg(F.min("h").alias("sig"))
        .select(
            F.lit(table_name).alias("table_name"), "column_name", "bucket", "sig"
        )
    )


def oph_signatures_multi(
    sources: list[tuple[DataFrame, str, list[str] | None]],
    num_buckets: int = NUM_PERM,
) -> DataFrame:
    """OPH signatures for SEVERAL tables with ONE grouped aggregate:
    union the melted (table_name, column_name, h) rows first, then a
    single groupBy — identical values to per-table ``oph_signatures``
    unioned (min over the same groups), but one Exchange instead of
    one per table (guide §2.4; on a lake-scope sketch pass the
    per-table aggregates were pure stage-latency). Map-side combine
    still collapses each scan's rows before the shuffle."""
    h = h32_sql("v", "spark")
    m = None
    for df, table_name, columns in sources:
        tn = sql_str_lit(table_name)
        mm = melt_values(df, columns, spread=False).selectExpr(
            f"{tn} AS table_name", "column_name", f"{h} AS h"
        )
        m = mm if m is None else m.unionByName(mm)
    return (
        m.groupBy(
            "table_name",
            "column_name",
            (F.col("h") % num_buckets).cast("int").alias("bucket"),
        )
        .agg(F.min("h").alias("sig"))
        .select("table_name", "column_name", "bucket", "sig")
    )


def oph_signatures_oracle_sql(
    table: str, columns: list[str], num_buckets: int = NUM_PERM
) -> str:
    h = h32_sql("v", "duckdb")
    parts = []
    for c in columns:
        vals = (
            f"SELECT nullif(CAST({c} AS VARCHAR), '') AS v FROM {table} "
            f"WHERE nullif(CAST({c} AS VARCHAR), '') IS NOT NULL"
        )
        parts.append(
            f"""SELECT '{table}' AS table_name, '{c}' AS column_name,
                CAST(h % {num_buckets} AS INTEGER) AS bucket, min(h) AS sig
            FROM (SELECT {h} AS h FROM ({vals}) vals) hs GROUP BY 2, 3"""
        )
    return "\nUNION ALL\n".join(parts)


def oph_jaccard_estimate(
    query_sigs: DataFrame, candidate_sigs: DataFrame, num_buckets: int = NUM_PERM
) -> DataFrame:
    """Jaccard estimate from OPH signatures: agreeing buckets over
    buckets occupied by EITHER side — the empty-bucket-aware estimator
    (identical sets score exactly 1.0 regardless of fill rate). Same
    output as minhash_jaccard_estimate."""
    # consumed twice (bucket counts + slot comparison) — persist, or the
    # full upstream sketch pass re-executes per consumer
    candidate_sigs = candidate_sigs.persist()
    q = query_sigs.select(F.col("bucket"), F.col("sig").alias("qsig"))
    qn = q.agg(F.count(F.lit(1)).alias("nq"))
    common = (
        candidate_sigs.join(F.broadcast(q), "bucket")
        .groupBy(
            F.col("table_name").alias("cand_table"),
            F.col("column_name").alias("cand_column"),
        )
        .agg(
            F.count(F.lit(1)).alias("ncommon"),
            F.count(F.when(F.col("sig") == F.col("qsig"), 1)).alias("matches"),
        )
    )
    ccnt = candidate_sigs.groupBy(
        F.col("table_name").alias("cand_table"),
        F.col("column_name").alias("cand_column"),
    ).agg(F.count(F.lit(1)).alias("nc"))
    return (
        ccnt.join(common, ["cand_table", "cand_column"], "left")
        .crossJoin(F.broadcast(qn))
        .select(
            "cand_table",
            "cand_column",
            (
                F.coalesce(F.col("matches"), F.lit(0))
                / (
                    F.col("nc") + F.col("nq") - F.coalesce(F.col("ncommon"), F.lit(0))
                ).cast("double")
            ).alias("est_jaccard"),
        )
    )


def minhash_jaccard_estimate(
    query_sigs: DataFrame, candidate_sigs: DataFrame
) -> DataFrame:
    """Estimated Jaccard between one query column's signature and every
    candidate column's signature: fraction of agreeing slots.

    Output: (cand_table, cand_column, est_jaccard), one row per
    candidate column, unranked (the searches rank it: ``_rank_columns``).
    """
    q = query_sigs.select(F.col("perm"), F.col("sig").alias("qsig"))
    j = candidate_sigs.join(F.broadcast(q), "perm")
    return (
        j.groupBy(F.col("table_name").alias("cand_table"), F.col("column_name").alias("cand_column"))
        .agg(F.avg((F.col("sig") == F.col("qsig")).cast("double")).alias("est_jaccard"))
    )


def _rank_columns(est: DataFrame, candidates: list[tuple[str, list[str]]]) -> DataFrame:
    """Rank a per-candidate-column estimate (estimate desc, then name —
    a total order, so top-k cuts are stable). The frame holds at most
    one row per entry of the caller's candidate list, so k = that
    list's length keeps every row (functions/ranking.py)."""
    from tabsketchfm_spark.functions.ranking import ranked_topk

    return ranked_topk(
        est,
        [F.desc("est_jaccard"), F.asc("cand_table"), F.asc("cand_column")],
        sum(len(cols) for _, cols in candidates),
    )


def joinability_search(
    spark: SparkSession,
    sf_dir: str,
    query: tuple[str, str],
    candidates: list[tuple[str, list[str]]],
    num_perm: int = NUM_PERM,
) -> DataFrame:
    """Flagship (SURVEY §7.3): rank every candidate column in the lake by
    estimated Jaccard with the query column."""
    from tabsketchfm_spark.sources.tables import load_table

    qt, qc = query
    qdf = load_table(spark, sf_dir, qt)
    qsigs = minhash_signatures(qdf, qt, [qc], num_perm).where(
        F.col("column_name") == qc
    )
    cand_sigs = None
    for t, cols in candidates:
        s = minhash_signatures(load_table(spark, sf_dir, t), t, cols, num_perm)
        cand_sigs = s if cand_sigs is None else cand_sigs.unionByName(s)
    return _rank_columns(minhash_jaccard_estimate(qsigs, cand_sigs), candidates)


def joinability_search_oph(
    spark: SparkSession,
    sf_dir: str,
    query: tuple[str, str],
    candidates: list[tuple[str, list[str]]],
    num_buckets: int = NUM_PERM,
) -> DataFrame:
    """Flagship at scale: OPH sketches instead of k-perm (one hash per
    value; ~10× faster on wide scans, same ranking contract)."""
    from tabsketchfm_spark.sources.tables import load_table

    qt, qc = query
    qsigs = oph_signatures(load_table(spark, sf_dir, qt), qt, [qc], num_buckets)
    cand_sigs = _candidate_sigs(spark, sf_dir, candidates, num_buckets)
    return _rank_columns(oph_jaccard_estimate(qsigs, cand_sigs, num_buckets), candidates)


def _candidate_sigs(spark, sf_dir: str, candidates, num_buckets: int) -> DataFrame:
    """The candidate side of the OPH searches: ONE aggregate over every
    candidate table. Joinability, unionability and subset search build
    the same plan for the same candidates, so the frame one of them
    persisted serves the others from Spark's cache."""
    from tabsketchfm_spark.sources.tables import load_table

    return oph_signatures_multi(
        [(load_table(spark, sf_dir, t), t, cols) for t, cols in candidates],
        num_buckets,
    )


def joinability_oph_oracle_sql(
    query: tuple[str, str],
    candidates: list[tuple[str, list[str]]],
    num_buckets: int = NUM_PERM,
) -> str:
    qt, qc = query
    h = h32_sql("v", "duckdb")
    cand_parts = []
    # a repeated (table, column) is one candidate, as in the Spark plan
    for t, c in dict.fromkeys((t, c) for t, cols in candidates for c in cols):
        vals = (
            f"SELECT nullif(CAST({c} AS VARCHAR), '') AS v FROM {t} "
            f"WHERE nullif(CAST({c} AS VARCHAR), '') IS NOT NULL"
        )
        cand_parts.append(
            f"""SELECT '{t}' AS cand_table, '{c}' AS cand_column,
                    h % {num_buckets} AS bucket, min(h) AS sig
                FROM (SELECT {h} AS h FROM ({vals}) vals) hs GROUP BY 1, 2, 3"""
        )
    qvals = (
        f"SELECT nullif(CAST({qc} AS VARCHAR), '') AS v FROM {qt} "
        f"WHERE nullif(CAST({qc} AS VARCHAR), '') IS NOT NULL"
    )
    cand_body = "\nUNION ALL\n".join(cand_parts)
    return f"""
WITH qsig AS (SELECT h % {num_buckets} AS bucket, min(h) AS sig
              FROM (SELECT {h} AS h FROM ({qvals}) vals) hs GROUP BY 1),
csig AS ({cand_body}),
qn AS (SELECT count(*) AS nq FROM qsig),
common AS (SELECT cand_table, cand_column, count(*) AS ncommon,
                  count(CASE WHEN c.sig = q.sig THEN 1 END) AS matches
           FROM csig c JOIN qsig q USING (bucket)
           GROUP BY cand_table, cand_column),
ccnt AS (SELECT cand_table, cand_column, count(*) AS nc
         FROM csig GROUP BY cand_table, cand_column),
est AS (SELECT cand_table, cand_column,
               coalesce(matches, 0)
                 / CAST(nc + nq - coalesce(ncommon, 0) AS DOUBLE) AS est_jaccard
        FROM ccnt LEFT JOIN common USING (cand_table, cand_column) CROSS JOIN qn)
SELECT cand_table, cand_column, est_jaccard,
       CAST(row_number() OVER (ORDER BY est_jaccard DESC, cand_table, cand_column)
            AS INTEGER) AS rank
FROM est
"""


def all_pairs_joinability(
    spark: SparkSession,
    sf_dir: str,
    tables: dict[str, list[str]],
    threshold: float = 0.1,
    num_buckets: int = NUM_PERM,
    ranked: bool = True,
    caches: list | None = None,
) -> DataFrame:
    """Lake-scope discovery: estimated Jaccard for EVERY column pair
    across every table, from one OPH sketch pass.

    This is the query a data-discovery engine actually serves ("which
    columns anywhere join with anything?"): sketch all columns (one
    scan per table, 1 hash/value), then a self-join of the tiny
    signature relation on bucket — cost is O(columns² × buckets) on
    sketches, never O(rows²) on data. Output:
    (table_a, column_a, table_b, column_b, est_jaccard, rank).
    """
    from tabsketchfm_spark.sources.tables import load_table

    sigs = oph_signatures_multi(
        [(load_table(spark, sf_dir, t), t, cols) for t, cols in tables.items()],
        num_buckets,
    )
    sigs = sigs.withColumn(
        "key", F.concat_ws(".", "table_name", "column_name")
    ).persist()
    if caches is not None:
        # callers that consume the result EAGERLY (table_pagerank's
        # bounded edge collect) should unpersist this afterwards; lazy
        # callers must leave it cached — the returned plan reads it
        caches.append(sigs)

    cnt = sigs.groupBy("key").agg(F.count(F.lit(1)).alias("nb"))
    a = sigs.select(
        F.col("key").alias("key_a"), "bucket", F.col("sig").alias("sig_a")
    )
    b = sigs.select(
        F.col("key").alias("key_b"), "bucket", F.col("sig").alias("sig_b")
    )
    common = (
        a.join(b, "bucket")
        .where(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(
            F.count(F.lit(1)).alias("ncommon"),
            F.count(F.when(F.col("sig_a") == F.col("sig_b"), 1)).alias("matches"),
        )
    )
    est = (
        common.join(
            F.broadcast(cnt.withColumnsRenamed({"key": "key_a", "nb": "nb_a"})), "key_a"
        )
        .join(F.broadcast(cnt.withColumnsRenamed({"key": "key_b", "nb": "nb_b"})), "key_b")
        .select(
            "key_a",
            "key_b",
            (
                F.col("matches")
                / (F.col("nb_a") + F.col("nb_b") - F.col("ncommon")).cast("double")
            ).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
    )
    split_cols = [
        F.split("key_a", r"\.")[0].alias("table_a"),
        F.split("key_a", r"\.")[1].alias("column_a"),
        F.split("key_b", r"\.")[0].alias("table_b"),
        F.split("key_b", r"\.")[1].alias("column_b"),
        F.col("est_jaccard"),
    ]
    if not ranked:
        # graph consumers (table_pagerank) only need the edge set —
        # skip the two-phase global rank (a repartitionByRange sampling
        # job + offsets pass at execution) they would discard
        return est.select(*split_cols)
    from tabsketchfm_spark.functions.ranking import global_rank

    rk = global_rank(
        est, [F.desc("est_jaccard"), F.asc("key_a"), F.asc("key_b")]
    )
    return rk.select(*split_cols, F.col("rank"))


def all_pairs_joinability_oracle_sql(
    tables: dict[str, list[str]],
    threshold: float = 0.1,
    num_buckets: int = NUM_PERM,
    ranked: bool = True,
) -> str:
    h = h32_sql("v", "duckdb")
    parts = []
    for t, cols in tables.items():
        for c in cols:
            vals = (
                f"SELECT nullif(CAST({c} AS VARCHAR), '') AS v FROM {t} "
                f"WHERE nullif(CAST({c} AS VARCHAR), '') IS NOT NULL"
            )
            parts.append(
                f"""SELECT '{t}.{c}' AS key, h % {num_buckets} AS bucket, min(h) AS sig
                FROM (SELECT {h} AS h FROM ({vals}) vals) hs GROUP BY 1, 2"""
            )
    body = "\nUNION ALL\n".join(parts)
    rank_col = (
        ",\n       CAST(row_number() OVER (ORDER BY est_jaccard DESC, key_a, key_b)"
        " AS INTEGER) AS rank"
        if ranked
        else ""
    )
    return f"""
WITH sigs AS ({body}),
cnt AS (SELECT key, count(*) AS nb FROM sigs GROUP BY 1),
common AS (SELECT a.key AS key_a, b.key AS key_b, count(*) AS ncommon,
                  count(CASE WHEN a.sig = b.sig THEN 1 END) AS matches
           FROM sigs a JOIN sigs b USING (bucket) WHERE a.key < b.key
           GROUP BY 1, 2),
est AS (SELECT key_a, key_b,
               matches / CAST(ca.nb + cb.nb - ncommon AS DOUBLE) AS est_jaccard
        FROM common JOIN cnt ca ON key_a = ca.key JOIN cnt cb ON key_b = cb.key)
SELECT string_split(key_a, '.')[1] AS table_a, string_split(key_a, '.')[2] AS column_a,
       string_split(key_b, '.')[1] AS table_b, string_split(key_b, '.')[2] AS column_b,
       est_jaccard{rank_col}
FROM est WHERE est_jaccard >= {threshold}
"""


def _column_overlap(qsigs: DataFrame, csigs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Bucket overlap of OPH signatures, the front of the table
    searches: per query column its occupied buckets (q_col, nq), and
    per (q_col, cand_table, cand_col) the buckets both sides occupy
    (ncommon) and those whose signatures agree (matches)."""
    qcnt = qsigs.groupBy(F.col("column_name").alias("q_col")).agg(
        F.count(F.lit(1)).alias("nq")
    )
    q = qsigs.select(F.col("column_name").alias("q_col"), "bucket", F.col("sig").alias("qsig"))
    common = (
        csigs.join(F.broadcast(q), "bucket")
        .groupBy(
            "q_col",
            F.col("table_name").alias("cand_table"),
            F.col("column_name").alias("cand_col"),
        )
        .agg(
            F.count(F.lit(1)).alias("ncommon"),
            F.count(F.when(F.col("sig") == F.col("qsig"), 1)).alias("matches"),
        )
    )
    return qcnt, common


def unionability_search(
    spark: SparkSession,
    sf_dir: str,
    query_table: str,
    query_columns: list[str],
    candidates: dict[str, list[str]],
    over_fetch: int = 3,
    num_buckets: int = NUM_PERM,
) -> DataFrame:
    """K4 on real lake sketches: rank candidate TABLES by how many of
    the query table's columns find a similar column there (reference
    union/subset search, embedding_search.py:118-164 — here with OPH
    sketch similarity instead of learned embeddings; the ranking
    operator W4+A11+T4 is identical).

    Output: (cand_table, matched_cols, score_sum, rank).
    """
    from pyspark.sql import Window

    from tabsketchfm_spark.sources.tables import load_table

    qsigs = oph_signatures(
        load_table(spark, sf_dir, query_table), query_table, query_columns, num_buckets
    ).persist()
    csigs = _candidate_sigs(spark, sf_dir, candidates.items(), num_buckets).persist()
    qcnt, common = _column_overlap(qsigs, csigs)
    ccnt = csigs.groupBy(
        F.col("table_name").alias("cand_table"),
        F.col("column_name").alias("cand_col"),
    ).agg(F.count(F.lit(1)).alias("nc"))
    est = (
        ccnt.crossJoin(F.broadcast(qcnt))
        .join(common, ["q_col", "cand_table", "cand_col"], "left")
        .select(
            "q_col",
            "cand_table",
            "cand_col",
            (
                F.coalesce(F.col("matches"), F.lit(0))
                / (
                    F.col("nc") + F.col("nq") - F.coalesce(F.col("ncommon"), F.lit(0))
                ).cast("double")
            ).alias("est"),
        )
    )
    wk = Window.partitionBy("q_col").orderBy(
        F.desc("est"), F.asc("cand_table"), F.asc("cand_col")
    )
    near = est.withColumn("nn", F.row_number().over(wk)).where(
        F.col("nn") <= over_fetch
    )
    wf = Window.partitionBy("q_col", "cand_table").orderBy(
        F.desc("est"), F.asc("cand_col")
    )
    first = near.withColumn("fm", F.row_number().over(wf)).where(F.col("fm") == 1)
    votes = first.groupBy("cand_table").agg(
        F.count(F.lit(1)).alias("matched_cols"),
        F.round(F.sum(F.lit(1.0) - F.col("est")), 6).alias("score_sum"),
    )
    from tabsketchfm_spark.functions.ranking import ranked_topk

    return ranked_topk(
        votes.select("cand_table", "matched_cols", "score_sum"),
        [F.desc("matched_cols"), F.asc("score_sum"), F.asc("cand_table")],
        len(candidates),
    )


def unionability_oracle_sql(
    query_table: str,
    query_columns: list[str],
    candidates: dict[str, list[str]],
    over_fetch: int = 3,
    num_buckets: int = NUM_PERM,
) -> str:
    h = h32_sql("v", "duckdb")

    def sig_part(t: str, c: str, key_cols: str) -> str:
        vals = (
            f"SELECT nullif(CAST({c} AS VARCHAR), '') AS v FROM {t} "
            f"WHERE nullif(CAST({c} AS VARCHAR), '') IS NOT NULL"
        )
        return (
            f"SELECT {key_cols}, h % {num_buckets} AS bucket, min(h) AS sig "
            f"FROM (SELECT {h} AS h FROM ({vals}) vals) hs GROUP BY 1, 2, 3"
        )

    qparts = "\nUNION ALL\n".join(
        sig_part(query_table, c, f"'{query_table}' AS t, '{c}' AS q_col")
        for c in query_columns
    )
    cparts = "\nUNION ALL\n".join(
        sig_part(t, c, f"'{t}' AS cand_table, '{c}' AS cand_col")
        for t, c in dict.fromkeys((t, c) for t, cols in candidates.items() for c in cols)
    )
    return f"""
WITH qsigs AS ({qparts}),
csigs AS ({cparts}),
qcnt AS (SELECT q_col, count(*) AS nq FROM qsigs GROUP BY 1),
ccnt AS (SELECT cand_table, cand_col, count(*) AS nc FROM csigs GROUP BY 1, 2),
common AS (SELECT q.q_col, c.cand_table, c.cand_col, count(*) AS ncommon,
                  count(CASE WHEN c.sig = q.sig THEN 1 END) AS matches
           FROM csigs c JOIN qsigs q USING (bucket)
           GROUP BY 1, 2, 3),
est AS (SELECT qcnt.q_col, ccnt.cand_table, ccnt.cand_col,
               coalesce(matches, 0)
                 / CAST(nc + nq - coalesce(ncommon, 0) AS DOUBLE) AS est
        FROM ccnt CROSS JOIN qcnt
        LEFT JOIN common ON common.q_col = qcnt.q_col
                        AND common.cand_table = ccnt.cand_table
                        AND common.cand_col = ccnt.cand_col),
near AS (SELECT *, row_number() OVER (PARTITION BY q_col
                                      ORDER BY est DESC, cand_table, cand_col) AS nn
         FROM est QUALIFY nn <= {over_fetch}),
first AS (SELECT *, row_number() OVER (PARTITION BY q_col, cand_table
                                       ORDER BY est DESC, cand_col) AS fm
          FROM near QUALIFY fm = 1),
votes AS (SELECT cand_table, count(*) AS matched_cols,
                 round(sum(1.0 - est), 6) AS score_sum
          FROM first GROUP BY 1)
SELECT cand_table, matched_cols, score_sum,
       CAST(row_number() OVER (ORDER BY matched_cols DESC, score_sum, cand_table)
            AS INTEGER) AS rank
FROM votes
"""


def subset_search(
    spark: SparkSession,
    sf_dir: str,
    query_table: str,
    query_columns: list[str],
    candidates: dict[str, list[str]],
    num_buckets: int = NUM_PERM,
) -> DataFrame:
    """Subset-direction search (reference CKAN-subset task shape,
    BASELINE.md): rank candidate tables by how CONTAINED the query
    table's columns are in theirs — containment est = agreeing buckets
    over the QUERY side's occupied buckets (asymmetric, unlike the
    Jaccard estimate). Output: (cand_table, mean_containment, rank)."""
    from pyspark.sql import Window

    from tabsketchfm_spark.sources.tables import load_table

    qsigs = oph_signatures(
        load_table(spark, sf_dir, query_table), query_table, query_columns, num_buckets
    ).persist()
    qcnt, common = _column_overlap(
        qsigs, _candidate_sigs(spark, sf_dir, candidates.items(), num_buckets)
    )
    cont = common.join(F.broadcast(qcnt), "q_col").select(
        "q_col",
        "cand_table",
        "cand_col",
        (F.col("matches") / F.col("nq").cast("double")).alias("containment"),
    )
    wf = Window.partitionBy("q_col", "cand_table").orderBy(
        F.desc("containment"), F.asc("cand_col")
    )
    best = cont.withColumn("fm", F.row_number().over(wf)).where(F.col("fm") == 1)
    per_table = best.groupBy("cand_table").agg(
        F.round(F.sum("containment") / F.lit(float(len(query_columns))), 6).alias(
            "mean_containment"
        )
    )
    from tabsketchfm_spark.functions.ranking import ranked_topk

    return ranked_topk(
        per_table.select("cand_table", "mean_containment"),
        [F.desc("mean_containment"), F.asc("cand_table")],
        len(candidates),
    )


def subset_search_oracle_sql(
    query_table: str,
    query_columns: list[str],
    candidates: dict[str, list[str]],
    num_buckets: int = NUM_PERM,
) -> str:
    h = h32_sql("v", "duckdb")

    def sig_part(t: str, c: str, key_cols: str) -> str:
        vals = (
            f"SELECT nullif(CAST({c} AS VARCHAR), '') AS v FROM {t} "
            f"WHERE nullif(CAST({c} AS VARCHAR), '') IS NOT NULL"
        )
        return (
            f"SELECT {key_cols}, h % {num_buckets} AS bucket, min(h) AS sig "
            f"FROM (SELECT {h} AS h FROM ({vals}) vals) hs GROUP BY 1, 2, 3"
        )

    qparts = "\nUNION ALL\n".join(
        sig_part(query_table, c, f"'{query_table}' AS t, '{c}' AS q_col")
        for c in query_columns
    )
    cparts = "\nUNION ALL\n".join(
        sig_part(t, c, f"'{t}' AS cand_table, '{c}' AS cand_col")
        for t, c in dict.fromkeys((t, c) for t, cols in candidates.items() for c in cols)
    )
    return f"""
WITH qsigs AS ({qparts}),
csigs AS ({cparts}),
qcnt AS (SELECT q_col, count(*) AS nq FROM qsigs GROUP BY 1),
m AS (SELECT q.q_col, c.cand_table, c.cand_col,
             count(CASE WHEN c.sig = q.sig THEN 1 END) AS m
      FROM csigs c JOIN qsigs q USING (bucket)
      GROUP BY 1, 2, 3),
cont AS (SELECT m.q_col, cand_table, cand_col, m / CAST(nq AS DOUBLE) AS containment
         FROM m JOIN qcnt ON m.q_col = qcnt.q_col),
best AS (SELECT *, row_number() OVER (PARTITION BY q_col, cand_table
                                      ORDER BY containment DESC, cand_col) AS fm
         FROM cont QUALIFY fm = 1),
per_table AS (SELECT cand_table,
                     round(sum(containment) / {float(len(query_columns))}, 6)
                       AS mean_containment
              FROM best GROUP BY 1)
SELECT cand_table, mean_containment,
       CAST(row_number() OVER (ORDER BY mean_containment DESC, cand_table)
            AS INTEGER) AS rank
FROM per_table
"""


def joinability_oracle_sql(
    query: tuple[str, str],
    candidates: list[tuple[str, list[str]]],
    num_perm: int = NUM_PERM,
) -> str:
    qt, qc = query
    cand_parts = []
    for t, cols in candidates:
        for c in cols:
            h = h32_sql("v", "duckdb")
            vals = (
                f"SELECT nullif(CAST({c} AS VARCHAR), '') AS v FROM {t} "
                f"WHERE nullif(CAST({c} AS VARCHAR), '') IS NOT NULL"
            )
            # hash hoisted out of the perm cross-join (perm-invariant)
            cand_parts.append(
                f"""SELECT '{t}' AS cand_table, '{c}' AS cand_column,
                    i AS perm, min((a * hv + b) % {MINHASH_PRIME}) AS sig
                FROM (SELECT {h} AS hv FROM ({vals}) vals) hvals, perms GROUP BY i"""
            )
    hq = h32_sql("v", "duckdb")
    qvals = (
        f"SELECT nullif(CAST({qc} AS VARCHAR), '') AS v FROM {qt} "
        f"WHERE nullif(CAST({qc} AS VARCHAR), '') IS NOT NULL"
    )
    cand_body = "\nUNION ALL\n".join(cand_parts)
    return f"""
WITH perms AS ({perms_cte_duckdb(num_perm)}),
qsig AS (SELECT i AS perm, min((a * hv + b) % {MINHASH_PRIME}) AS sig
         FROM (SELECT {hq} AS hv FROM ({qvals}) vals) hvals, perms GROUP BY i),
csig AS ({cand_body}),
est AS (SELECT cand_table, cand_column,
               avg(CASE WHEN c.sig = q.sig THEN CAST(1.0 AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END) AS est_jaccard
        FROM csig c JOIN qsig q USING (perm)
        GROUP BY cand_table, cand_column)
SELECT cand_table, cand_column, est_jaccard,
       CAST(row_number() OVER (ORDER BY est_jaccard DESC, cand_table, cand_column)
            AS INTEGER) AS rank
FROM est
"""


def merge_oph_signatures(sig_a: DataFrame, sig_b: DataFrame) -> DataFrame:
    """Sketch ALGEBRA: combine two OPH signatures into the signature
    of the union of their value sets — elementwise MIN per bucket,
    full-outer on buckets only one side saw. This mergeability is what
    makes sketches the 100 TB primitive: partitions sketch
    independently (map-side), signatures merge associatively (reduce),
    and incremental loads merge against yesterday's sketch instead of
    rescanning the lake."""
    a = sig_a.select("table_name", "column_name", "bucket", F.col("sig").alias("sa"))
    b = sig_b.select("table_name", "column_name", "bucket", F.col("sig").alias("sb"))
    # Spark's least() skips NULLs, so a bucket present on one side
    # only keeps that side's sig
    return a.join(b, ["table_name", "column_name", "bucket"], "full_outer").select(
        "table_name",
        "column_name",
        "bucket",
        F.least("sa", "sb").alias("sig"),
    )


def oph_merge_check(
    df: DataFrame,
    table_name: str,
    columns: list[str],
    split_col: str,
    num_buckets: int = NUM_PERM,
) -> DataFrame:
    """Merge-correctness query: sketch the two halves of ``df`` (split
    by parity of ``split_col``) independently, merge, and flag each
    bucket against the directly-computed whole-table signature.
    Output: (column_name, bucket, sig, matches_full) — all true."""
    even = df.where(F.col(split_col) % 2 == 0)
    odd = df.where(F.col(split_col) % 2 == 1)
    merged = merge_oph_signatures(
        oph_signatures(even, table_name, columns, num_buckets),
        oph_signatures(odd, table_name, columns, num_buckets),
    )
    full = oph_signatures(df, table_name, columns, num_buckets).select(
        "column_name", "bucket", F.col("sig").alias("sig_full")
    )
    return (
        merged.join(full, ["column_name", "bucket"], "full_outer")
        .select(
            "column_name",
            "bucket",
            "sig",
            (F.col("sig") == F.col("sig_full")).alias("matches_full"),
        )
    )


def oph_merge_check_oracle_sql(
    table: str, columns: list[str], num_buckets: int = NUM_PERM
) -> str:
    """The mathematically-equal direct signature with matches = TRUE —
    a broken merge shows up as sig/flag mismatches."""
    full = oph_signatures_oracle_sql(table, columns, num_buckets)
    return f"""
WITH full_sig AS ({full})
SELECT column_name, bucket, sig, TRUE AS matches_full FROM full_sig
"""


def join_cardinality_estimate(
    spark,
    sf_dir: str,
    left: tuple[str, str],
    right: tuple[str, str],
    num_buckets: int = NUM_PERM,
    lc_slots: int = 1024,
) -> DataFrame:
    """Sketch-only equi-join SIZE estimation — the query-planning face
    of joinability search: estimate |A ⋈ B| on key columns from (a)
    the OPH slot-agreement Jaccard estimate, (b) linear-counting
    distinct estimates d̂A/d̂B, and (c) exact row counts, assuming
    per-key multiplicities near their column averages:

        overlap ≈ Ĵ/(1+Ĵ)·(d̂A + d̂B)
        |A ⋈ B| ≈ overlap · (nA/d̂A) · (nB/d̂B)

    Everything is computed FROM SKETCH STATE (plus two row counts) —
    the estimate a catalog answers without touching the data — and
    every stage is closed-form deterministic, so the DuckDB oracle
    reproduces the estimate bit-exactly (accuracy vs the true join
    size is property-tested separately, as with the other sketches).
    Output: (est_jaccard, est_distinct_a, est_distinct_b,
    est_overlap, est_join_rows).
    """
    from tabsketchfm_spark.operators.melt import melt_values
    from tabsketchfm_spark.sources.tables import load_table

    (ta, ca), (tb, cb) = left, right
    dfa, dfb = load_table(spark, sf_dir, ta), load_table(spark, sf_dir, tb)

    def side(df, col, sig_name, d_name, n_name):
        """ONE melt+hash scan feeds all three sketch readings (OPH
        bucket-MINs, linear-counting occupancy, non-null count) —
        the estimate's whole point is not touching the data thrice."""
        hs = (
            melt_values(df.select(col), [col], spread=False)
            .select(F.expr(h32_sql("v", "spark")).alias("h"))
            .persist()
        )
        sig = (
            hs.groupBy((F.col("h") % num_buckets).cast("int").alias("bucket"))
            .agg(F.min("h").alias(sig_name))
        )
        occ = (
            hs.select((F.col("h") % lc_slots).cast("int").alias("slot"))
            .distinct()
            .agg(F.count(F.lit(1)).alias("occ"))
            # identical to profile.distinct_sketch: the linear-counting
            # formula below saturation, NULL at occ == m (grow m)
            .select(
                F.when(
                    F.col("occ") < lc_slots,
                    F.round(
                        -lc_slots
                        * F.log((lc_slots - F.col("occ")) / float(lc_slots)),
                        6,
                    ),
                ).alias(d_name)
            )
        )
        n = hs.agg(F.count(F.lit(1)).alias(n_name))
        return sig, occ, n

    sa, da, na = side(dfa, ca, "sig_a", "da", "na")
    sb, db, nb = side(dfb, cb, "sig_b", "db", "nb")
    jac = (
        sa.join(sb, "bucket", "full_outer")
        .agg(
            (
                F.sum((F.col("sig_a") == F.col("sig_b")).cast("int"))
                / F.count(F.lit(1))
            ).alias("j")
        )
    )
    est = (
        jac.crossJoin(F.broadcast(da))
        .crossJoin(F.broadcast(db))
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .withColumn("ov", F.col("j") / (1.0 + F.col("j")) * (F.col("da") + F.col("db")))
    )
    return est.select(
        F.round("j", 6).alias("est_jaccard"),
        F.round("da", 6).alias("est_distinct_a"),
        F.round("db", 6).alias("est_distinct_b"),
        F.round("ov", 6).alias("est_overlap"),
        F.round(
            F.col("ov") * (F.col("na") / F.col("da")) * (F.col("nb") / F.col("db")), 6
        ).alias("est_join_rows"),
    )


def join_cardinality_oracle_sql(
    left: tuple[str, str],
    right: tuple[str, str],
    num_buckets: int = NUM_PERM,
    lc_slots: int = 1024,
) -> str:
    from tabsketchfm_spark.operators.profile import distinct_sketch_oracle_sql

    (ta, ca), (tb, cb) = left, right
    siga = oph_signatures_oracle_sql(ta, [ca], num_buckets)
    sigb = oph_signatures_oracle_sql(tb, [cb], num_buckets)
    dsa = distinct_sketch_oracle_sql(ta, [ca], lc_slots)
    dsb = distinct_sketch_oracle_sql(tb, [cb], lc_slots)
    return f"""
WITH sa AS (SELECT bucket, sig AS sig_a FROM ({siga}) x),
sb AS (SELECT bucket, sig AS sig_b FROM ({sigb}) x),
jac AS (SELECT sum(CASE WHEN sig_a = sig_b THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE) AS j
        FROM sa FULL OUTER JOIN sb USING (bucket)),
da AS (SELECT est_distinct AS da FROM ({dsa}) x),
db AS (SELECT est_distinct AS db FROM ({dsb}) x),
na AS (SELECT count(*) AS na FROM {ta} WHERE {ca} IS NOT NULL),
nb AS (SELECT count(*) AS nb FROM {tb} WHERE {cb} IS NOT NULL),
est AS (SELECT j, da, db, na, nb, j / (1.0 + j) * (da + db) AS ov
        FROM jac, da, db, na, nb)
SELECT round(j, 6) AS est_jaccard,
       round(da, 6) AS est_distinct_a, round(db, 6) AS est_distinct_b,
       round(ov, 6) AS est_overlap,
       round(ov * (na / da) * (nb / db), 6) AS est_join_rows
FROM est
"""

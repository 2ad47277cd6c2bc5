"""Per-column profiling aggregates — the reference's sketch-stats core.

Re-designs reference ``preprocess_cols`` (data_prep.py:188-279): null
count A1, exact distinct A2, mean cell width A3, decile quantiles A4,
mean A5, guarded population-std A6, min/max A7, assembled 13-slot
quantile vector A8, row count A9 (SURVEY §2.3).

Spark design — two complementary passes, both fully parallel:

1. **Wide codegen pass** over the raw rows: null counts, exact decimal
   sums/sum-of-squares, min/max, string widths — one aggregate
   expression per stat in a single ``df.agg(...)``, partials combine
   map-side, one row crosses the shuffle. Whole-stage codegen end to
   end.
2. **Value-counts pass** for the order/distinct statistics: melt the
   profiled columns to ``(col_id, value)``, hash-aggregate to
   ``(col_id, value, cnt)`` (map-side combine collapses duplicates
   before the only shuffle), then (a) distinct counts are a trivial
   per-column count of that frame and (b) EXACT linearly-interpolated
   deciles come from a cumulative-count walk: window cumsum per
   column, and for each decile the bracketing values v0/v1 are
   conditional MAXes at sorted positions floor/ceil(x*(n-1)) — the
   same double arithmetic as Spark's ``percentile`` and DuckDB's
   ``quantile_cont``.

Compared to N ``countDistinct`` + N ``percentile`` in one agg this
avoids both the Expand N× input blow-up and Percentile's
buffer-everything OpenHashMap whose final merge lands on ONE reducer.
Shuffle volume is bounded by Σ per-column distinct counts (not rows),
every stage distributes across the cluster, and memory per task is
bounded.

Documented divergences from the reference (SURVEY §7.5 risk 3): '' is
normalized to NULL before counting (data_prep.py:202-208), distinct is
over non-null values, width is avg UTF-8 byte length (not numpy
itemsize), std is population std with the reference's ``unique>2``
guard (data_prep.py:238-241).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DECILES = [i / 10.0 for i in range(1, 10)]

_NUMERIC = {"integer", "float"}


def spark_logical_type(spark_dtype: str) -> str:
    d = spark_dtype.lower()
    if d in ("tinyint", "smallint", "int", "bigint"):
        return "integer"
    if d in ("float", "double") or d.startswith("decimal"):
        return "float"
    if d in ("timestamp", "date", "timestamp_ntz"):
        return "date"
    if d == "string":
        return "string"
    return "other"


def profile_table(
    df: DataFrame,
    table_name: str,
    columns: list[str] | None = None,
    round_digits: int | None = None,
    caches: list | None = None,
) -> DataFrame:
    """One row per column: the full A1-A9 stat set.

    Output schema: table_name, column_name, col_idx, col_type, row_cnt,
    num_nan, distinct_cnt, cell_width_bytes, q10..q90, mean_v, std_v,
    min_v, max_v (numeric/date stats NULL for strings and vice versa;
    date columns are measured on the epoch-seconds axis).

    The profiler persists up to three internal frames the returned
    plan reads — pass ``caches`` (a list) to receive them; callers
    that materialize the result EAGERLY should unpersist them after
    (lazy callers must not)."""
    from pyspark.sql import Window

    from tabsketchfm_spark.sources.tables import spread

    dtypes = dict(df.dtypes)
    columns = columns or [c for c in df.columns if spark_logical_type(dtypes[c]) != "other"]

    # BOTH passes are expression-heavy (60+ decimal aggregates; the
    # |columns|-fold melt) — an unsplittable one-row-group source would
    # serialize each on one task (pass 1 measured 2.6s -> 1.6s spread).
    # When spread fires the source is by definition small (< 8 splits),
    # so persisting the widened rows is bounded — and necessary: the
    # profiler runs multiple jobs (offsets collect + final), and an
    # unpersisted repartition re-shuffles in every one.
    #
    # CRITICAL (round-7): project to the profiled columns BEFORE the
    # spread+persist. Persisting the full-width spread(df) caches the
    # bare `Repartition(table)` subtree, and CacheManager then
    # substitutes that full-width InMemoryRelation under ANY other
    # operator's identical `spread(table)` subtree analyzed later in
    # the session — un-pruning its scan (the ExactSubstr plan pins
    # failed exactly this way once a documents profile had run). With
    # the projection inside, the cached plan is Repartition(Project(…))
    # and can only ever substitute under an identical projected
    # subtree; it also stops persisting columns the profiler skips.
    df = df.select(*columns)
    sdf = spread(df)
    if sdf is not df:
        df = sdf.persist()
        if caches is not None:
            caches.append(df)

    # Expressions are built as SQL strings and parsed in bulk: the
    # Column-API equivalent of this function made ~18k py4j round trips
    # per build (one per expression NODE), which dominated the profiler's
    # wall (OPTIMIZATION_r12.md). The SQL trees below are node-for-node
    # the ones the Column API produced — the DuckDB parity suite gates
    # bit-exactness.
    aggs: list[str] = ["count(1) AS row_cnt"]
    metas: list[tuple[str, int, str]] = []
    melt_structs: list[str] = []
    for idx, c in enumerate(columns):
        lt = spark_logical_type(dtypes[c])
        metas.append((c, idx, lt))
        p = f"c{idx}__"
        qc = f"`{c}`"
        if lt == "string":
            norm = f"nullif({qc}, '')"
            aggs += [
                f"count(CASE WHEN ({norm} IS NULL) THEN 1 END) AS {p}num_nan",
                f"avg(octet_length({norm})) AS {p}width",
            ]
            melt_structs.append(
                f"named_struct('cid', {idx}, 'vd', CAST(NULL AS DOUBLE), "
                f"'vs', {norm})"
            )
        else:
            if lt == "date":
                # epoch-seconds axis, exact: micros are integral so the
                # /1e6 double division matches DuckDB's epoch() bit-for-bit
                if dtypes[c] == "date":
                    v = f"CAST((unix_date({qc}) * 86400) AS DOUBLE)"
                else:
                    v = (
                        f"(unix_micros(CAST({qc} AS TIMESTAMP)) / "
                        f"CAST({1000000.0:.17e} AS DOUBLE))"
                    )
            else:
                v = f"CAST({qc} AS DOUBLE)"
            # mean/std from EXACT decimal sums — float aggregate merges
            # are partition-order dependent, so avg()/stddev_pop() can
            # differ at the last ulp between runs (and from the oracle)
            # depending on parallelism. sum(decimal) is exact, hence
            # order-free; the double arithmetic after it is identical
            # in both engines. decimal(18,6) covers epoch seconds and
            # every fixture domain; x² fits decimal(38,12).
            d = f"CAST({v} AS DECIMAL(18,6))"
            aggs += [
                f"count(CASE WHEN ({qc} IS NULL) THEN 1 END) AS {p}num_nan",
                f"count({v}) AS {p}n_val",
                f"CAST(sum({d}) AS DOUBLE) AS {p}sum",
                f"CAST(sum({d} * {d}) AS DOUBLE) AS {p}sumsq",
                f"min({v}) AS {p}min",
                f"max({v}) AS {p}max",
            ]
            melt_structs.append(
                f"named_struct('cid', {idx}, 'vd', {v}, "
                f"'vs', CAST(NULL AS STRING))"
            )

    # pass 2: value-counts frame — ONE shuffle keyed (cid, value) with
    # map-side partial counts; distinct counts and exact deciles both
    # read it. Nulls are excluded (pass 1 already counted them).
    melt = df.selectExpr(
        f"inline(array({', '.join(melt_structs)}))"
    ).where("vd IS NOT NULL OR vs IS NOT NULL")
    counts = melt.groupBy("cid", "vd", "vs").agg(F.count(F.lit(1)).alias("cnt"))
    numeric_idx = [idx for _, idx, lt in metas if lt not in ("string",)]
    if numeric_idx:
        # consumed by both the distinct-count row and the decile frame
        counts = counts.persist()
        if caches is not None:
            caches.append(counts)

    dist_row = counts.groupBy().agg(
        *[
            F.expr(
                f"sum(CASE WHEN (cid = {idx}) THEN 1 ELSE 0 END) "
                f"AS c{idx}__distinct_cnt"
            )
            for _, idx, _ in metas
        ]
    )
    one = df.agg(*[F.expr(a) for a in aggs]).crossJoin(F.broadcast(dist_row))

    if numeric_idx:
        # exact deciles from cumulative counts: for decile x at
        # h = x*(n-1), the bracketing sorted values are
        #   v0 = max(v where cum_prev <= floor(h))
        #   v1 = max(v where cum_prev <= ceil(h))
        # and q = v0 + (h - floor(h)) * (v1 - v0) — identical double
        # arithmetic to Spark `percentile` / DuckDB `quantile_cont`.
        #
        # The cumsum is TWO-PHASE (like functions/ranking.global_rank):
        # range-partition the counts frame on (cid, vd), cumsum inside
        # each partition, add per-partition offsets (computed lazily
        # below from the partition sums). A plain
        # `Window.partitionBy(cid)` would move a whole column's
        # distinct set to ONE task — fatal for a 100 TB unique key;
        # here no task ever holds more than its range share.
        spark = df.sparkSession
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        nv = (
            counts.where(F.col("vd").isNotNull())
            .select("cid", "vd", "cnt")
            .repartitionByRange(nparts, F.col("cid"), F.col("vd"))
            .withColumn("__pid", F.spark_partition_id())
            .persist()
        )
        if caches is not None:
            caches.append(nv)
        # partition offsets computed LAZILY from the per-partition sums:
        # a window over ≤ |partitions| rows per cid (bounded by the
        # shuffle-partition count, never by data volume) replaces the
        # former psums.collect() + createDataFrame driver round-trip —
        # the offsets become broadcast-joined subplans of the one final
        # job instead of two extra Python-driven jobs.
        psums = nv.groupBy("__pid", "cid").agg(F.sum("cnt").alias("s"))
        woff = (
            Window.partitionBy("cid")
            .orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        off_df = psums.select(
            "__pid",
            "cid",
            F.coalesce(F.sum("s").over(woff), F.lit(0)).alias("off"),
        )
        ntot = psums.groupBy("cid").agg(F.sum("s").alias("n_val"))
        wc = Window.partitionBy("__pid", "cid").orderBy("vd")
        cum = (
            nv.join(F.broadcast(off_df), ["__pid", "cid"])
            .withColumn("cum", F.sum("cnt").over(wc) + F.col("off"))
            .withColumn("cum_prev", F.col("cum") - F.col("cnt"))
        )
        cj = cum.join(F.broadcast(ntot), "cid")
        braks: list[str] = []
        for x in DECILES:
            h = f"(CAST({x:.17e} AS DOUBLE) * CAST((n_val - 1) AS DOUBLE))"
            pq = int(x * 100)
            braks += [
                f"max(CASE WHEN (cum_prev <= floor({h})) THEN vd END) "
                f"AS v0_{pq}",
                f"max(CASE WHEN (cum_prev <= ceil({h})) THEN vd END) "
                f"AS v1_{pq}",
            ]
        qlong = cj.groupBy("cid").agg(
            F.expr("first(n_val) AS n_val"), *[F.expr(b) for b in braks]
        )
        qcells: list[str] = ["cid"]
        for x in DECILES:
            h = f"(CAST({x:.17e} AS DOUBLE) * CAST((n_val - 1) AS DOUBLE))"
            pq = int(x * 100)
            lo = f"CAST(floor({h}) AS DOUBLE)"
            hi = f"CAST(ceil({h}) AS DOUBLE)"
            # the exact double expression both Spark `percentile` and
            # DuckDB `quantile_cont` evaluate — NOT the algebraically
            # equal lerp v0+(h-lo)*(v1-v0), which rounds differently
            qcells.append(
                f"CASE WHEN ({hi} = {lo}) THEN v0_{pq} "
                f"ELSE ((({hi} - {h}) * v0_{pq}) + (({h} - {lo}) * v1_{pq})) "
                f"END AS q{pq}"
            )
        qlong = qlong.selectExpr(*qcells)
        q_row = qlong.groupBy().agg(
            *[
                F.expr(
                    f"first(CASE WHEN (cid = {idx}) THEN q{int(x * 100)} END, "
                    f"true) AS c{idx}__q{int(x * 100)}"
                )
                for idx in numeric_idx
                for x in DECILES
            ]
        )
        one = one.crossJoin(F.broadcast(q_row))

    def rnd(e: str) -> str:
        return f"round({e}, {round_digits})" if round_digits is not None else e

    from tabsketchfm_spark.functions.sqltext import sql_str_lit as slit

    null_d = "CAST(NULL AS DOUBLE)"
    structs: list[str] = []
    for c, idx, lt in metas:
        p = f"c{idx}__"
        if lt == "string":
            fields = {
                "num_nan": p + "num_nan",
                "distinct_cnt": p + "distinct_cnt",
                "cell_width_bytes": rnd(p + "width"),
                **{f"q{int(x * 100)}": null_d for x in DECILES},
                "mean_v": null_d,
                "std_v": null_d,
                "min_v": null_d,
                "max_v": null_d,
            }
        else:
            mean = f"({p}sum / {p}n_val)"
            var = (
                f"greatest((({p}sumsq / {p}n_val) - ({mean} * {mean})), "
                f"CAST(0.0 AS DOUBLE))"
            )
            qcols = {
                f"q{int(x * 100)}": rnd(f"{p}q{int(x * 100)}")
                for x in DECILES
            }
            fields = {
                "num_nan": p + "num_nan",
                "distinct_cnt": p + "distinct_cnt",
                "cell_width_bytes": null_d,
                **qcols,
                "mean_v": rnd(mean),
                # std guard mirrors reference data_prep.py:238-241
                "std_v": rnd(
                    f"CASE WHEN ({p}distinct_cnt > 2) THEN sqrt({var}) "
                    f"ELSE CAST(0.0 AS DOUBLE) END"
                ),
                "min_v": rnd(p + "min"),
                "max_v": rnd(p + "max"),
            }
        kv = ", ".join(
            [
                f"'table_name', {slit(table_name)}",
                f"'column_name', {slit(c)}",
                f"'col_idx', {idx}",
                f"'col_type', {slit(lt)}",
                "'row_cnt', row_cnt",
            ]
            + [f"{slit(k)}, {v}" for k, v in fields.items()]
        )
        structs.append(f"named_struct({kv})")

    return one.selectExpr(f"inline(array({', '.join(structs)}))")


def profile_oracle_sql(
    table: str,
    schema: list[tuple[str, str]],
    round_digits: int | None = None,
) -> str:
    """DuckDB SQL computing the identical profile (UNION ALL per column)."""

    def rnd(e: str) -> str:
        return f"round({e}, {round_digits})" if round_digits is not None else e

    deciles_sql = ", ".join(str(x) for x in DECILES)
    parts = []
    cols = [(c, lt) for c, lt in schema if lt in ("string", "integer", "float", "date")]
    for idx, (c, lt) in enumerate(cols):
        null_qs = ", ".join(
            f"CAST(NULL AS DOUBLE) AS q{int(x * 100)}" for x in DECILES
        )
        if lt == "string":
            stats = f"""
              count(CASE WHEN nullif({c}, '') IS NULL THEN 1 END) AS num_nan,
              count(DISTINCT nullif({c}, '')) AS distinct_cnt,
              {rnd(f"avg(strlen(nullif({c}, '')))")} AS cell_width_bytes,
              {null_qs},
              CAST(NULL AS DOUBLE) AS mean_v, CAST(NULL AS DOUBLE) AS std_v,
              CAST(NULL AS DOUBLE) AS min_v, CAST(NULL AS DOUBLE) AS max_v"""
        else:
            v = f"epoch({c})" if lt == "date" else f"CAST({c} AS DOUBLE)"
            # (19,6): int128-backed in DuckDB so d*d doesn't overflow the
            # int64 multiply; Spark keeps (18,6) whose product (37,12)
            # stays under the 38 cap — both sums are exact, values equal
            d = f"CAST({v} AS DECIMAL(19,6))"
            qs = ", ".join(
                rnd(f"quantile_cont({v}, {x})") + f" AS q{int(x * 100)}"
                for x in DECILES
            )
            mean = f"(CAST(sum({d}) AS DOUBLE) / count({v}))"
            var = (
                f"greatest(CAST(sum({d} * {d}) AS DOUBLE) / count({v})"
                f" - {mean} * {mean}, 0.0)"
            )
            stats = f"""
              count(CASE WHEN {c} IS NULL THEN 1 END) AS num_nan,
              count(DISTINCT {c}) AS distinct_cnt,
              CAST(NULL AS DOUBLE) AS cell_width_bytes,
              {qs},
              {rnd(mean)} AS mean_v,
              {rnd(f"CASE WHEN count(DISTINCT {c}) > 2 THEN sqrt({var}) ELSE 0.0 END")} AS std_v,
              {rnd(f"min({v})")} AS min_v, {rnd(f"max({v})")} AS max_v"""
        parts.append(
            f"""SELECT '{table}' AS table_name, '{c}' AS column_name,
              {idx} AS col_idx, '{lt}' AS col_type, count(*) AS row_cnt,{stats}
            FROM {table}"""
        )
    return "\nUNION ALL\n".join(parts)


def heavy_hitters(
    df: DataFrame,
    table_name: str,
    columns: list[str] | None = None,
    k: int = 5,
) -> DataFrame:
    """Per-column top-k most frequent values (heavy hitters) — the
    value-frequency face of the profiling core (the reference samples
    the first 100 uniques per column, embedding_search.py:33; heavy
    hitters are the principled version). String and integer columns
    only: float formatting isn't portable across engines.

    Scale shape: one melt shuffle with map-side combine to
    (col, value, cnt), then TWO-PHASE top-k — local top-k inside each
    shuffle partition (the local winners provably contain the global
    ones), global top-k over |partitions|·k finalists per column. No
    single task ever holds a full column's distinct set, unlike a
    plain Window.partitionBy(column). Output: (table_name,
    column_name, value, cnt, rank); ties break on value.
    """
    from pyspark.sql import Window

    dtypes = dict(df.dtypes)
    columns = columns or [
        c
        for c in df.columns
        if spark_logical_type(dtypes[c]) in ("string", "integer")
    ]
    structs = []
    for c in columns:
        v = F.col(c)
        if spark_logical_type(dtypes[c]) == "string":
            v = F.nullif(v, F.lit(""))
        structs.append(
            F.struct(F.lit(c).alias("col"), v.cast("string").alias("value"))
        )
    melt = (
        df.select(F.explode(F.array(*structs)).alias("m"))
        .select("m.*")
        .where(F.col("value").isNotNull())
    )
    counts = melt.groupBy("col", "value").agg(F.count(F.lit(1)).alias("cnt"))
    wl = Window.partitionBy("col", F.spark_partition_id()).orderBy(
        F.desc("cnt"), F.asc("value")
    )
    local = counts.withColumn("__r", F.row_number().over(wl)).where(
        F.col("__r") <= k
    )
    wg = Window.partitionBy("col").orderBy(F.desc("cnt"), F.asc("value"))
    return (
        local.withColumn("rank", F.row_number().over(wg))
        .where(F.col("rank") <= k)
        .select(
            F.lit(table_name).alias("table_name"),
            F.col("col").alias("column_name"),
            "value",
            "cnt",
            "rank",
        )
    )


def heavy_hitters_oracle_sql(
    table: str,
    schema: list[tuple[str, str]],
    k: int = 5,
) -> str:
    parts = []
    for c, lt in schema:
        if lt not in ("string", "integer"):
            continue
        v = f"nullif({c}, '')" if lt == "string" else c
        parts.append(
            f"""SELECT '{table}' AS table_name, '{c}' AS column_name,
  CAST({v} AS VARCHAR) AS value, count(*) AS cnt,
  CAST(row_number() OVER (ORDER BY count(*) DESC, CAST({v} AS VARCHAR))
       AS INTEGER) AS rank
FROM {table} WHERE {v} IS NOT NULL
GROUP BY CAST({v} AS VARCHAR)
QUALIFY rank <= {k}"""
        )
    return "\nUNION ALL\n".join(parts)


def profile_merge_check(
    df: DataFrame,
    table_name: str,
    columns: list[str],
    split_col: str,
    new_pred=None,
) -> DataFrame:
    """Incremental-profile algebra: the mergeable subset of the A1-A9
    stats (count / null count / exact decimal sum & sum-of-squares /
    min / max) computed independently on the two parity halves of
    ``split_col``, MERGED, and rederived — mean/std/min/max must equal
    the direct whole-table profile bit-for-bit, because exact decimal
    partials are associative (the same property that lets 100 TB
    profiles update per-partition instead of rescanning; the
    non-mergeable stats — exact distinct, exact deciles — are exactly
    the ones the engine offers sketch/approx variants for).

    Output: (column_name, n_val, mean_v, std_v, min_v, max_v,
    matches_direct).

    ``new_pred`` overrides the parity split with an arbitrary boolean
    Column marking the "arriving" partition — the store-lifecycle
    callers (sketch_store.store_incremental_update) merge an existing
    store's partials with one new partition's.
    """
    def partial_aggs(frame: DataFrame) -> DataFrame:
        aggs = []
        for i, c in enumerate(columns):
            v = F.col(c).cast("double")
            d = v.cast("decimal(18,6)")
            aggs += [
                F.count(v).alias(f"n{i}"),
                F.sum(d).alias(f"s{i}"),
                F.sum(d * d).alias(f"q{i}"),
                F.min(v).alias(f"mn{i}"),
                F.max(v).alias(f"mx{i}"),
            ]
        return frame.agg(*aggs)

    if new_pred is None:
        new_pred = F.col(split_col) % 2 == 1
    even = partial_aggs(df.where(~new_pred))
    odd = partial_aggs(df.where(new_pred))
    both = even.unionByName(odd)
    merge_aggs = []
    for i in range(len(columns)):
        merge_aggs += [
            F.sum(f"n{i}").alias(f"n{i}"),
            F.sum(f"s{i}").alias(f"s{i}"),
            F.sum(f"q{i}").alias(f"q{i}"),
            F.min(f"mn{i}").alias(f"mn{i}"),
            F.max(f"mx{i}").alias(f"mx{i}"),
        ]
    merged = both.agg(*merge_aggs)
    direct = partial_aggs(df)

    def derive(src: DataFrame, prefix: str) -> DataFrame:
        cells = []
        for i, c in enumerate(columns):
            n = F.col(f"n{i}")
            mean = F.col(f"s{i}").cast("double") / n
            var = F.greatest(
                F.col(f"q{i}").cast("double") / n - mean * mean, F.lit(0.0)
            )
            cells.append(
                F.struct(
                    F.lit(c).alias("column_name"),
                    n.alias("n_val"),
                    mean.alias("mean_v"),
                    F.sqrt(var).alias("std_v"),
                    F.col(f"mn{i}").alias("min_v"),
                    F.col(f"mx{i}").alias("max_v"),
                )
            )
        return src.select(F.explode(F.array(*cells)).alias("p")).select(
            F.col("p.column_name").alias("column_name"),
            F.col("p.n_val").alias(prefix + "n_val"),
            F.col("p.mean_v").alias(prefix + "mean_v"),
            F.col("p.std_v").alias(prefix + "std_v"),
            F.col("p.min_v").alias(prefix + "min_v"),
            F.col("p.max_v").alias(prefix + "max_v"),
        )

    m = derive(merged, "")
    d = derive(direct, "d_")
    return m.join(d, "column_name").select(
        "column_name",
        "n_val",
        F.round("mean_v", 6).alias("mean_v"),
        F.round("std_v", 6).alias("std_v"),
        "min_v",
        "max_v",
        (
            (F.col("n_val") == F.col("d_n_val"))
            & (F.col("mean_v") == F.col("d_mean_v"))
            & (F.col("std_v") == F.col("d_std_v"))
            & (F.col("min_v") == F.col("d_min_v"))
            & (F.col("max_v") == F.col("d_max_v"))
        ).alias("matches_direct"),
    )


def profile_merge_check_oracle_sql(table: str, columns: list[str]) -> str:
    """Direct whole-table stats with matches = TRUE (a broken merge
    diverges in value or flag)."""
    parts = []
    for c in columns:
        v = f"CAST({c} AS DOUBLE)"
        d = f"CAST({v} AS DECIMAL(19,6))"
        mean = f"(CAST(sum({d}) AS DOUBLE) / count({v}))"
        var = (
            f"greatest(CAST(sum({d} * {d}) AS DOUBLE) / count({v})"
            f" - {mean} * {mean}, 0.0)"
        )
        parts.append(
            f"""SELECT '{c}' AS column_name, count({v}) AS n_val,
  round({mean}, 6) AS mean_v, round(sqrt({var}), 6) AS std_v,
  min({v}) AS min_v, max({v}) AS max_v, TRUE AS matches_direct
FROM {table}"""
        )
    return "\nUNION ALL\n".join(parts)


def outlier_filter(
    df: DataFrame,
    table_name: str,
    columns: list[str],
    z_threshold: float = 3.0,
) -> DataFrame:
    """Z-score outlier scan — the numeric-cleaning pass of a training
    pipeline: per column, how many values sit more than ``z``
    population-stds from the mean. Mean/std come from the same exact
    decimal sums as the profiler (order-free ⇒ cross-engine equal),
    joined back as a broadcast literal row: two scans, and the final
    count shuffle is map-side-combined to one row per column. Output: (column_name, n_val,
    n_outliers, outlier_frac).
    """
    aggs = []
    for i, c in enumerate(columns):
        v = F.col(c).cast("double")
        d = v.cast("decimal(18,6)")
        aggs += [
            F.count(v).alias(f"n{i}"),
            F.sum(d).alias(f"s{i}"),
            F.sum(d * d).alias(f"q{i}"),
        ]
    stats = df.agg(*aggs)
    joined = df.crossJoin(F.broadcast(stats))
    cells = []
    for i, c in enumerate(columns):
        v = F.col(c).cast("double")
        n = F.col(f"n{i}")
        mean = F.col(f"s{i}").cast("double") / n
        std = F.sqrt(
            F.greatest(F.col(f"q{i}").cast("double") / n - mean * mean, F.lit(0.0))
        )
        is_out = (
            v.isNotNull() & (F.abs(v - mean) > F.lit(z_threshold) * std)
        ).cast("int")
        cells.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.lit(1).alias("one"),
                is_out.alias("is_out"),
                v.isNotNull().cast("int").alias("nn"),
            )
        )
    melted = joined.select(F.explode(F.array(*cells)).alias("m")).select("m.*")
    return melted.groupBy("column_name").agg(
        F.sum("nn").alias("n_val"),
        F.sum("is_out").alias("n_outliers"),
        F.round(F.sum("is_out") / F.sum("nn"), 9).alias("outlier_frac"),
    )


def outlier_filter_oracle_sql(
    table: str, columns: list[str], z_threshold: float = 3.0
) -> str:
    parts = []
    for c in columns:
        v = f"CAST({c} AS DOUBLE)"
        # DECIMAL(19,6): width>18 is int128-backed in DuckDB, so d*d cannot
        # overflow (width 18 is int64-backed and sum(d*d) overflows on
        # l_extendedprice). Decimal sums are exact at either precision, so
        # parity with Spark's DECIMAL(18,6) holds regardless.
        d = f"CAST({v} AS DECIMAL(19,6))"
        mean = f"(CAST(sum({d}) AS DOUBLE) / count({v}))"
        var = (
            f"greatest(CAST(sum({d} * {d}) AS DOUBLE) / count({v})"
            f" - {mean} * {mean}, 0.0)"
        )
        # CAST(sum(..) AS BIGINT): DuckDB sum(INTEGER) yields HUGEINT,
        # which reaches pandas as a different dtype than Spark's bigint —
        # numerically equal but hash-different at the driver.
        parts.append(
            f"""SELECT '{c}' AS column_name,
  count({v}) AS n_val,
  CAST(sum(CASE WHEN abs({v} - (SELECT {mean} FROM {table}))
             > {z_threshold} * (SELECT sqrt({var}) FROM {table})
      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
  round(CAST(sum(CASE WHEN abs({v} - (SELECT {mean} FROM {table}))
             > {z_threshold} * (SELECT sqrt({var}) FROM {table})
      THEN 1 ELSE 0 END) AS BIGINT) / CAST(count({v}) AS DOUBLE), 9) AS outlier_frac
FROM {table} WHERE {v} IS NOT NULL"""
        )
    return "\nUNION ALL\n".join(parts)


def quantile_sketch(
    df: DataFrame,
    table_name: str,
    columns: list[str],
    sample_mod: int = 4,
) -> DataFrame:
    """MERGEABLE decile sketch — the sketch-variant closing the gap
    profile_merge_check documents: exact deciles are not mergeable,
    but deciles over a VALUE-HASH sample are. A value is sampled iff
    h32(value) % sample_mod == 0 — the inclusion decision is intrinsic
    to the value, so the union of two partitions' samples IS the
    sample of the union (no coordination, no reservoir state), and the
    per-partition sketches merge by concatenation. Quantiles are the
    exact linear-interpolated percentiles over the sample
    (Spark percentile == DuckDB quantile_cont, the toolkit identity),
    so the sketch itself is bit-reproducible cross-engine.

    Output: (column_name, n_sampled, q10, q50, q90) rounded 6.
    """
    from tabsketchfm_spark.functions.hashing import h32_sql
    from tabsketchfm_spark.operators.melt import melt_values

    m = melt_values(df, columns, spread=False)
    h = F.expr(h32_sql("v", "spark"))
    sampled = m.where(h % sample_mod == 0).select(
        "column_name", F.col("v").cast("double").alias("x")
    )
    return (
        sampled.where(F.col("x").isNotNull())
        .groupBy("column_name")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_sampled"),
            *[
                F.round(F.expr(f"percentile(x, {q})"), 6).alias(f"q{int(q * 100)}")
                for q in (0.1, 0.5, 0.9)
            ],
        )
    )


def quantile_sketch_oracle_sql(
    table: str, columns: list[str], sample_mod: int = 4
) -> str:
    from tabsketchfm_spark.functions.hashing import h32_sql

    h = h32_sql("v", "duckdb")
    parts = []
    for c in columns:
        vals = (
            f"SELECT nullif(CAST({c} AS VARCHAR), '') AS v FROM {table} "
            f"WHERE nullif(CAST({c} AS VARCHAR), '') IS NOT NULL"
        )
        parts.append(
            f"""SELECT '{c}' AS column_name, CAST(count(*) AS INTEGER) AS n_sampled,
  round(quantile_cont(x, 0.1), 6) AS q10,
  round(quantile_cont(x, 0.5), 6) AS q50,
  round(quantile_cont(x, 0.9), 6) AS q90
FROM (SELECT CAST(v AS DOUBLE) AS x FROM ({vals}) vals
      WHERE {h} % {sample_mod} = 0 AND TRY_CAST(v AS DOUBLE) IS NOT NULL) s"""
        )
    return "\nUNION ALL\n".join(parts)


def quantile_sketch_merge_check(
    df: DataFrame,
    table_name: str,
    columns: list[str],
    split_col: str,
    sample_mod: int = 4,
) -> DataFrame:
    """Prove the mergeability: sketch the two parity halves
    independently, merge by UNION of their sampled values, rederive
    the quantiles — bit-identical to the direct whole-table sketch,
    because the sampled multiset is value-determined. Output adds
    matches_direct (always TRUE)."""
    # NULL split keys must land in exactly one half (a NULL predicate
    # would silently drop them from BOTH, diverging from the direct
    # sketch on any nullable split column)
    even = (F.col(split_col) % 2 == 0) | F.col(split_col).isNull()
    merged_src = df.where(even).unionByName(df.where(~even.eqNullSafe(True)))
    merged = quantile_sketch(merged_src, table_name, columns, sample_mod)
    direct = quantile_sketch(df, table_name, columns, sample_mod).select(
        "column_name",
        F.col("n_sampled").alias("d_n"),
        F.col("q10").alias("d_q10"),
        F.col("q50").alias("d_q50"),
        F.col("q90").alias("d_q90"),
    )
    return merged.join(direct, "column_name").select(
        "column_name",
        "n_sampled",
        "q10",
        "q50",
        "q90",
        (
            (F.col("n_sampled") == F.col("d_n"))
            & (F.col("q10") == F.col("d_q10"))
            & (F.col("q50") == F.col("d_q50"))
            & (F.col("q90") == F.col("d_q90"))
        ).alias("matches_direct"),
    )


def quantile_sketch_merge_check_oracle_sql(
    table: str, columns: list[str], sample_mod: int = 4
) -> str:
    base = quantile_sketch_oracle_sql(table, columns, sample_mod)
    return f"""
WITH direct AS ({base})
SELECT column_name, n_sampled, q10, q50, q90, TRUE AS matches_direct
FROM direct
"""


def distinct_sketch(
    df: DataFrame,
    table_name: str,
    columns: list[str],
    m: int = 1024,
) -> DataFrame:
    """Mergeable approximate-distinct sketch via LINEAR COUNTING
    (Whang et al. 1990): hash every value into an m-slot bitmap and
    estimate n̂ = -m·ln(empty/m) from the occupancy. Deterministic by
    construction — the bitmap is a set of h32(value) % m slots, no
    RNG — so unlike HLL implementations the estimate is bit-identical
    across engines and the DuckDB twin checks it EXACTLY (the a2s
    approx_count_distinct twin can only be rows-checked). Mergeable:
    the bitmap of a union is the OR of the bitmaps (value-determined
    slots, same argument as the quantile sketch sample). At 100 TB the
    shuffle carries at most m slots per column, not the distinct set.

    Output: (column_name, occupied, est_distinct); est_distinct NULL
    on a saturated bitmap (occupied == m — grow m instead).
    """
    from tabsketchfm_spark.functions.hashing import h32_sql
    from tabsketchfm_spark.operators.melt import melt_values

    mm = melt_values(df, columns, spread=False)
    h = F.expr(h32_sql("v", "spark"))
    slots = mm.select(
        "column_name", (h % m).cast("int").alias("slot")
    ).distinct()
    occ = slots.groupBy("column_name").agg(
        F.count(F.lit(1)).cast("int").alias("occupied")
    )
    est = F.when(
        F.col("occupied") < m,
        F.round(-m * F.log((m - F.col("occupied")) / float(m)), 6),
    )
    return occ.select("column_name", "occupied", est.alias("est_distinct"))


def distinct_sketch_oracle_sql(table: str, columns: list[str], m: int = 1024) -> str:
    from tabsketchfm_spark.functions.hashing import h32_sql

    h = h32_sql("v", "duckdb")
    parts = []
    for c in columns:
        vals = (
            f"SELECT nullif(CAST({c} AS VARCHAR), '') AS v FROM {table} "
            f"WHERE nullif(CAST({c} AS VARCHAR), '') IS NOT NULL"
        )
        parts.append(
            f"""SELECT '{c}' AS column_name,
  CAST(count(DISTINCT {h} % {m}) AS INTEGER) AS occupied,
  CASE WHEN count(DISTINCT {h} % {m}) < {m}
       THEN round(-{m} * ln(({m} - count(DISTINCT {h} % {m})) / CAST({m} AS DOUBLE)), 6)
  END AS est_distinct
FROM ({vals}) vals"""
        )
    return "\nUNION ALL\n".join(parts)


def k_anonymity_scan(
    df: DataFrame,
    table_name: str,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit — the privacy gate of a training-data release:
    every combination of quasi-identifier values held by fewer than
    ``k`` rows can re-identify individuals and must be suppressed or
    generalized before the corpus ships. One grouped count (map-side
    combined) over the quasi columns; the flag marks groups meeting
    the k threshold. Output: (q_<col>... as strings, group_size,
    is_anonymous), one row per observed combination."""
    qs = [
        F.col(c).cast("string").alias(f"q_{c}") for c in quasi_cols
    ]
    return (
        df.select(*qs)
        .groupBy(*[f"q_{c}" for c in quasi_cols])
        .agg(F.count(F.lit(1)).alias("group_size"))
        .select(
            *[f"q_{c}" for c in quasi_cols],
            "group_size",
            (F.col("group_size") >= k).alias("is_anonymous"),
        )
    )


def k_anonymity_scan_oracle_sql(
    table: str, quasi_cols: list[str], k: int = 5
) -> str:
    qs = ", ".join(f"CAST({c} AS VARCHAR) AS q_{c}" for c in quasi_cols)
    gs = ", ".join(f"q_{c}" for c in quasi_cols)
    return f"""
SELECT {gs}, count(*) AS group_size, count(*) >= {k} AS is_anonymous
FROM (SELECT {qs} FROM {table}) t
GROUP BY {gs}
"""


def histogram_kl_drift(
    df: DataFrame,
    table_name: str,
    col: str,
    split_col: str,
    bins: int = 20,
) -> DataFrame:
    """Distribution-drift audit between two slices of one table (the
    new-partition-vs-history check a 100 TB ingest runs before
    accepting data): equi-width histograms of ``col`` over the two
    parity halves of ``split_col`` on a SHARED bin spec (global
    min/max), add-one smoothing, and symmetric KL divergences. All
    histogram counts are exact integers; each KL is a sum of per-bin
    terms in bin order (sorted left-to-right aggregate), so the result
    is partition-order-free and bit-equal to the DuckDB twin. Output:
    one row (n_bins, n_p, n_q, kl_pq, kl_qp).
    """
    v = F.col(col).cast("double")
    base = df.select(v.alias("x"), (F.col(split_col) % 2 == 0).alias("is_p")).where(
        F.col("x").isNotNull()
    )
    rng = base.agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    occupied = (
        base.crossJoin(F.broadcast(rng))
        .select(
            "is_p",
            F.least(
                F.floor((F.col("x") - F.col("mn")) / ((F.col("mx") - F.col("mn")) / bins)),
                F.lit(bins - 1),
            )
            .cast("int")
            .alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.sum(F.col("is_p").cast("int")).alias("pc"),
            F.sum((~F.col("is_p")).cast("int")).alias("qc"),
        )
    )
    # EVERY bin contributes a smoothed term — a bin empty in both
    # slices still carries mass 1/(n+bins) per side, and dropping it
    # biases the divergence whenever the slice sizes differ
    spark = df.sparkSession
    all_bins = spark.range(bins).select(F.col("id").cast("int").alias("bin"))
    binned = all_bins.join(occupied, "bin", "left").select(
        "bin",
        F.coalesce("pc", F.lit(0)).alias("pc"),
        F.coalesce("qc", F.lit(0)).alias("qc"),
    )
    tot = binned.agg(
        F.sum("pc").alias("np"), F.sum("qc").alias("nq")
    )
    terms = binned.crossJoin(F.broadcast(tot)).select(
        "bin",
        (
            ((F.col("pc") + 1.0) / (F.col("np") + bins))
            * F.log(
                ((F.col("pc") + 1.0) / (F.col("np") + bins))
                / ((F.col("qc") + 1.0) / (F.col("nq") + bins))
            )
        ).alias("t_pq"),
        (
            ((F.col("qc") + 1.0) / (F.col("nq") + bins))
            * F.log(
                ((F.col("qc") + 1.0) / (F.col("nq") + bins))
                / ((F.col("pc") + 1.0) / (F.col("np") + bins))
            )
        ).alias("t_qp"),
        "np",
        "nq",
    )
    return terms.groupBy("np", "nq").agg(
        F.count(F.lit(1)).cast("int").alias("n_bins"),
        F.round(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(bin, t_pq))),"
                " s -> s.t_pq), cast(0.0 as double), (a, v) -> a + v)"
            ),
            9,
        ).alias("kl_pq"),
        F.round(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(bin, t_qp))),"
                " s -> s.t_qp), cast(0.0 as double), (a, v) -> a + v)"
            ),
            9,
        ).alias("kl_qp"),
    ).select(
        "n_bins",
        F.col("np").cast("bigint").alias("n_p"),
        F.col("nq").cast("bigint").alias("n_q"),
        "kl_pq",
        "kl_qp",
    )


def histogram_kl_drift_oracle_sql(
    table: str, col: str, split_col: str, bins: int = 20
) -> str:
    return f"""
WITH base AS (SELECT CAST({col} AS DOUBLE) AS x, {split_col} % 2 = 0 AS is_p
              FROM {table} WHERE {col} IS NOT NULL),
rng AS (SELECT min(x) AS mn, max(x) AS mx FROM base),
occ AS (SELECT CAST(least(floor((x - mn) / ((mx - mn) / {bins})), {bins} - 1) AS INTEGER) AS bin,
               sum(CASE WHEN is_p THEN 1 ELSE 0 END) AS pc,
               sum(CASE WHEN is_p THEN 0 ELSE 1 END) AS qc
        FROM base, rng GROUP BY 1),
binned AS (SELECT CAST(b AS INTEGER) AS bin,
                  coalesce(pc, 0) AS pc, coalesce(qc, 0) AS qc
           FROM (SELECT unnest(generate_series(0, {bins} - 1)) AS b) ab
           LEFT JOIN occ ON occ.bin = ab.b),
tot AS (SELECT sum(pc) AS np, sum(qc) AS nq FROM binned),
terms AS (SELECT bin, np, nq,
                 ((pc + 1.0) / (np + {bins})) * ln(((pc + 1.0) / (np + {bins})) / ((qc + 1.0) / (nq + {bins}))) AS t_pq,
                 ((qc + 1.0) / (nq + {bins})) * ln(((qc + 1.0) / (nq + {bins})) / ((pc + 1.0) / (np + {bins}))) AS t_qp
          FROM binned, tot)
SELECT CAST(count(*) AS INTEGER) AS n_bins,
       CAST(np AS BIGINT) AS n_p, CAST(nq AS BIGINT) AS n_q,
       round(list_reduce(list(t_pq ORDER BY bin), (a, v) -> a + v), 9) AS kl_pq,
       round(list_reduce(list(t_qp ORDER BY bin), (a, v) -> a + v), 9) AS kl_qp
FROM terms GROUP BY np, nq
"""


def countmin_sketch(
    df: DataFrame,
    table_name: str,
    col: str,
    width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of a column's
    value frequencies: ``depth`` hash rows × ``width`` counters, each
    value adding 1 at (row d, h_d(v) % width). Deterministic md5-row
    hashes — no RNG — so the grid is bit-reproducible cross-engine,
    and MERGEABLE BY ADDITION: partition grids sum cellwise, the
    streaming/incremental frequency primitive. The grid is the whole
    shuffle: depth×width cells regardless of row count.
    Output: (d, w, cnt) — one row per non-zero cell.
    """
    from tabsketchfm_spark.functions.hashing import h32_sql
    from tabsketchfm_spark.operators.melt import melt_values

    m = melt_values(df, [col], spread=False)
    rows = []
    for d in range(depth):
        h = h32_sql(f"concat('cm{d}|', v)", "spark")
        rows.append(
            F.struct(
                F.lit(d).alias("d"),
                (F.expr(h) % width).cast("int").alias("w"),
            )
        )
    return (
        m.select(F.explode(F.array(*rows)).alias("c"))
        .groupBy(F.col("c.d").alias("d"), F.col("c.w").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def countmin_sketch_oracle_sql(
    table: str, col: str, width: int = 256, depth: int = 4
) -> str:
    from tabsketchfm_spark.functions.hashing import h32_sql

    parts = []
    vals = (
        f"SELECT nullif(CAST({col} AS VARCHAR), '') AS v FROM {table} "
        f"WHERE nullif(CAST({col} AS VARCHAR), '') IS NOT NULL"
    )
    for d in range(depth):
        h = h32_sql(f"concat('cm{d}|', v)", "duckdb")
        parts.append(
            f"SELECT {d} AS d, CAST({h} % {width} AS INTEGER) AS w FROM ({vals}) vals"
        )
    u = "\nUNION ALL\n".join(parts)
    return f"""
SELECT d, w, count(*) AS cnt FROM ({u}) cells GROUP BY 1, 2
"""


def countmin_estimate(
    sketch: DataFrame,
    df: DataFrame,
    col: str,
    keys_max: int = 10,
    width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Point-query the grid: est(v) = min over rows of the cell count —
    an overestimate bounded by ||f||·e/width w.h.p. Queried for the
    first ``keys_max`` distinct values (sorted) so the result is
    deterministic. Output: (v, est, exact, overestimate >= 0)."""
    from tabsketchfm_spark.functions.hashing import h32_sql

    exact = (
        df.select(F.nullif(F.col(col).cast("string"), F.lit("")).alias("v"))
        .where(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("exact"))
        .orderBy("v")
        .limit(keys_max)
    )
    cells = []
    for d in range(depth):
        h = h32_sql(f"concat('cm{d}|', v)", "spark")
        cells.append(
            F.struct(F.lit(d).alias("d"), (F.expr(h) % width).cast("int").alias("w"))
        )
    q = exact.select(
        "v", "exact", F.explode(F.array(*cells)).alias("c")
    ).select("v", "exact", F.col("c.d").alias("d"), F.col("c.w").alias("w"))
    return (
        q.join(sketch, ["d", "w"])
        .groupBy("v", "exact")
        .agg(F.min("cnt").alias("est"))
        .select("v", "est", "exact", (F.col("est") >= F.col("exact")).alias("overest"))
    )


def kmv_sketch(
    df: DataFrame, table_name: str, col: str, k: int = 256
) -> DataFrame:
    """KMV (k-minimum-values) sketch: the k smallest md5 hashes of a
    column's distinct values (Bar-Yossef et al. 2002) — the
    theta-sketch primitive. Distinct estimate n̂ = (k-1)·2^32/h_(k)
    from the k-th smallest hash; MERGEABLE: the KMV of a union is the
    k smallest of the concatenated signatures. Deterministic (no RNG),
    so the signature AND the estimate are bit-reproducible — and
    because signatures are plain sorted rows, DuckDB mirrors them with
    ORDER BY/LIMIT exactly. Shuffle payload: k longs per column.
    Output: (pos, h) — the sorted signature.
    """
    from pyspark.sql import Window

    from tabsketchfm_spark.functions.hashing import h32_sql
    from tabsketchfm_spark.operators.melt import melt_values

    m = melt_values(df, [col], spread=False)
    hs = m.select(F.expr(h32_sql("v", "spark")).alias("h")).distinct()
    # distributed top-k: orderBy+limit compiles to TakeOrdered (per-
    # partition k then merge) — a bare Window.orderBy row_number would
    # funnel the WHOLE distinct set through one task before keeping k
    topk = hs.orderBy("h").limit(k)
    w = Window.orderBy("h")  # over ≤ k survivors only
    return topk.withColumn("pos", F.row_number().over(w)).select(
        F.col("pos").cast("int").alias("pos"), "h"
    )


def kmv_sketch_oracle_sql(table: str, col: str, k: int = 256) -> str:
    from tabsketchfm_spark.functions.hashing import h32_sql

    h = h32_sql("v", "duckdb")
    vals = (
        f"SELECT nullif(CAST({col} AS VARCHAR), '') AS v FROM {table} "
        f"WHERE nullif(CAST({col} AS VARCHAR), '') IS NOT NULL"
    )
    return f"""
SELECT CAST(row_number() OVER (ORDER BY h) AS INTEGER) AS pos, h
FROM (SELECT DISTINCT {h} AS h FROM ({vals}) vals) hs
ORDER BY h LIMIT {k}
"""


def kmv_set_estimates(
    dfa: DataFrame,
    col_a: str,
    dfb: DataFrame,
    col_b: str,
    k: int = 256,
) -> DataFrame:
    """Theta-sketch set algebra from two KMV signatures: distinct
    estimates for A, B, their UNION (KMV of merged signatures) and
    INTERSECTION (Jaccard over the union signature × union estimate) —
    the full inclusion-exclusion toolkit from 2·k longs, no data
    rescan. Every step is closed-form over the deterministic
    signatures, so the estimates are bit-exact cross-engine.
    Output: (est_a, est_b, est_union, est_intersection).
    """
    sa = kmv_sketch(dfa, "a", col_a, k).select("h").persist()
    sb = kmv_sketch(dfb, "b", col_b, k).select("h").persist()

    def est(sig: DataFrame, name: str) -> DataFrame:
        # keep the k smallest via sort-limit (TakeOrdered — no global
        # window); on the ≤k survivors n = count and h_(k) = max(h)
        kk = sig.orderBy("h").limit(k)
        kth = kk.agg(
            F.count(F.lit(1)).alias("n"), F.max("h").alias("hk")
        )
        # fewer than k values → the signature is exhaustive (exact)
        return kth.select(
            F.when(
                F.col("n") < k, F.col("n").cast("double")
            )
            .otherwise((k - 1) * F.lit(float(1 << 32)) / F.col("hk"))
            .alias(name)
        )

    union_sig = sa.unionByName(sb).distinct()
    union_k = union_sig.orderBy("h").limit(k)
    # Jaccard: fraction of the union signature present in BOTH sketches
    both = union_k.join(sa, "h", "left_semi").join(sb, "h", "left_semi")
    jac = union_k.agg(F.count(F.lit(1)).alias("nu")).crossJoin(
        F.broadcast(both.agg(F.count(F.lit(1)).alias("nb")))
    )
    eu = est(union_sig, "est_union")
    return (
        est(sa, "est_a")
        .crossJoin(F.broadcast(est(sb, "est_b")))
        .crossJoin(F.broadcast(eu))
        .crossJoin(F.broadcast(jac))
        .select(
            F.round("est_a", 6).alias("est_a"),
            F.round("est_b", 6).alias("est_b"),
            F.round("est_union", 6).alias("est_union"),
            F.round(
                F.col("nb") / F.col("nu") * F.col("est_union"), 6
            ).alias("est_intersection"),
        )
    )


def kmv_set_estimates_oracle_sql(
    table_a: str, col_a: str, table_b: str, col_b: str, k: int = 256
) -> str:
    from tabsketchfm_spark.functions.hashing import h32_sql

    def sig(table, col):
        h = h32_sql("v", "duckdb")
        vals = (
            f"SELECT nullif(CAST({col} AS VARCHAR), '') AS v FROM {table} "
            f"WHERE nullif(CAST({col} AS VARCHAR), '') IS NOT NULL"
        )
        return f"SELECT DISTINCT {h} AS h FROM ({vals}) vals ORDER BY h LIMIT {k}"

    def est(rel, name):
        return f"""(SELECT CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE)
                       ELSE ({k} - 1) * {float(1 << 32)} / max(h) END AS {name}
            FROM (SELECT h FROM {rel} ORDER BY h LIMIT {k}) t)"""

    return f"""
WITH sa AS ({sig(table_a, col_a)}),
sb AS ({sig(table_b, col_b)}),
su AS (SELECT DISTINCT h FROM (SELECT h FROM sa UNION SELECT h FROM sb) u),
uk AS (SELECT h FROM su ORDER BY h LIMIT {k}),
jac AS (SELECT (SELECT count(*) FROM uk) AS nu,
               (SELECT count(*) FROM uk
                WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)) AS nb)
SELECT round(ea.est_a, 6) AS est_a, round(eb.est_b, 6) AS est_b,
       round(eu.est_union, 6) AS est_union,
       round(CAST(nb AS DOUBLE) / nu * eu.est_union, 6) AS est_intersection
FROM {est('sa', 'est_a')} ea, {est('sb', 'est_b')} eb, {est('su', 'est_union')} eu, jac
"""


def validate_contracts(spark, sf_dir: str) -> DataFrame:
    """Data-contract validation — the expectations suite a lake runs
    before publishing a snapshot (dbt-test / Great-Expectations shape,
    as one relational pass per check): primary-key uniqueness,
    not-null rates, referential integrity (orphan foreign keys, via
    broadcast anti-joins), domain membership, and value-range bounds.
    Each check is a tiny aggregate emitting (check_name, n_violations,
    pass) — auditable, unionable, and cheap enough to gate every
    ingest. Violation counts are exact integers: bit-exact oracle.
    """
    from pyspark.sql import functions as F

    from tabsketchfm_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def check(name: str, viol: DataFrame) -> DataFrame:
        return viol.agg(F.count(F.lit(1)).alias("n_violations")).select(
            F.lit(name).alias("check_name"),
            "n_violations",
            (F.col("n_violations") == 0).alias("pass"),
        )

    pk_dup = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
    )
    nn = orders.where(F.col("o_custkey").isNull())
    orphans = orders.join(
        F.broadcast(customer.select("c_custkey")),
        orders.o_custkey == F.col("c_custkey"),
        "left_anti",
    )
    li_orphans = lineitem.join(
        orders.select("o_orderkey").distinct(),
        lineitem.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    )
    domain = orders.where(~F.col("o_orderstatus").isin("F", "O", "P"))
    ranged = lineitem.where(
        (F.col("l_discount") < 0) | (F.col("l_discount") > 1) | (F.col("l_quantity") <= 0)
    )
    out = check("orders_pk_unique", pk_dup)
    for name, viol in [
        ("orders_custkey_not_null", nn),
        ("orders_custkey_ref_customer", orphans),
        ("lineitem_orderkey_ref_orders", li_orphans),
        ("orders_status_domain", domain),
        ("lineitem_value_ranges", ranged),
    ]:
        out = out.unionByName(check(name, viol))
    return out


def validate_contracts_oracle_sql() -> str:
    return """
SELECT 'orders_pk_unique' AS check_name,
       (SELECT count(*) FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1) d)
         AS n_violations,
       (SELECT count(*) FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1) d) = 0 AS pass
UNION ALL
SELECT 'orders_custkey_not_null',
       (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
       (SELECT count(*) FROM orders WHERE o_custkey IS NULL) = 0
UNION ALL
SELECT 'orders_custkey_ref_customer',
       (SELECT count(*) FROM orders o WHERE NOT EXISTS
          (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
       (SELECT count(*) FROM orders o WHERE NOT EXISTS
          (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) = 0
UNION ALL
SELECT 'lineitem_orderkey_ref_orders',
       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
          (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
          (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0
UNION ALL
SELECT 'orders_status_domain',
       (SELECT count(*) FROM orders WHERE o_orderstatus NOT IN ('F', 'O', 'P')),
       (SELECT count(*) FROM orders WHERE o_orderstatus NOT IN ('F', 'O', 'P')) = 0
UNION ALL
SELECT 'lineitem_value_ranges',
       (SELECT count(*) FROM lineitem
        WHERE l_discount < 0 OR l_discount > 1 OR l_quantity <= 0),
       (SELECT count(*) FROM lineitem
        WHERE l_discount < 0 OR l_discount > 1 OR l_quantity <= 0) = 0
"""


def correlation_matrix(
    df: DataFrame, table_name: str, columns: list[str]
) -> DataFrame:
    """Pairwise Pearson correlations between numeric columns — the
    profiling face of feature redundancy (corr ≈ ±1 columns are
    derivable duplicates a curation pass can drop). ONE wide aggregate
    computes every Σx, Σx², Σxy as exact decimals (map-side combined;
    the O(p²) pair terms are expressions, not joins), then the
    correlations derive per pair — identical arithmetic in the DuckDB
    twin, so values are bit-exact. Rows restricted to all-columns-
    non-null so every pair sees the same sample (the listwise-deletion
    convention). Output: (col_a, col_b, corr) for a < b.
    """
    pred = None
    for c in columns:
        p = F.col(c).isNotNull()
        pred = p if pred is None else (pred & p)
    base = df.where(pred).select(
        *[F.col(c).cast("double").alias(c) for c in columns]
    )
    d = lambda col: col.cast("decimal(38,6)")
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, c in enumerate(columns):
        aggs.append(F.sum(d(F.col(c))).cast("double").alias(f"s{i}"))
        aggs.append(F.sum(d(F.col(c) * F.col(c))).cast("double").alias(f"q{i}"))
        for j in range(i + 1, len(columns)):
            aggs.append(
                F.sum(d(F.col(c) * F.col(columns[j]))).cast("double").alias(f"p{i}_{j}")
            )
    wide = base.agg(*aggs)
    cells = []
    for i, a in enumerate(columns):
        for j in range(i + 1, len(columns)):
            b = columns[j]
            n = F.col("n")
            cov = n * F.col(f"p{i}_{j}") - F.col(f"s{i}") * F.col(f"s{j}")
            va = n * F.col(f"q{i}") - F.col(f"s{i}") * F.col(f"s{i}")
            vb = n * F.col(f"q{j}") - F.col(f"s{j}") * F.col(f"s{j}")
            cells.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.round(cov / F.sqrt(va * vb), 9).alias("corr"),
                )
            )
    return wide.select(F.explode(F.array(*cells)).alias("c")).select(
        "c.col_a", "c.col_b", "c.corr"
    )


def correlation_matrix_oracle_sql(table: str, columns: list[str]) -> str:
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in columns)
    parts = []
    for i, a in enumerate(columns):
        for j in range(i + 1, len(columns)):
            b = columns[j]
            da = f"CAST({a} AS DOUBLE)"
            db = f"CAST({b} AS DOUBLE)"
            sa = f"CAST(sum(CAST({da} AS DECIMAL(38,6))) AS DOUBLE)"
            sb = f"CAST(sum(CAST({db} AS DECIMAL(38,6))) AS DOUBLE)"
            qa = f"CAST(sum(CAST({da} * {da} AS DECIMAL(38,6))) AS DOUBLE)"
            qb = f"CAST(sum(CAST({db} * {db} AS DECIMAL(38,6))) AS DOUBLE)"
            pab = f"CAST(sum(CAST({da} * {db} AS DECIMAL(38,6))) AS DOUBLE)"
            parts.append(
                f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
  round((count(*) * {pab} - {sa} * {sb})
        / sqrt((count(*) * {qa} - {sa} * {sa}) * (count(*) * {qb} - {sb} * {sb})), 9)
    AS corr
FROM {table} WHERE {notnull}"""
            )
    return "\nUNION ALL\n".join(parts)


def seasonality_profile(events: DataFrame) -> DataFrame:
    """Load seasonality: event counts and mean value by (day-of-week,
    hour-of-day), derived ARITHMETICALLY from the epoch axis —
    dow = (floor(epoch/86400) + 4) mod 7 (1970-01-01 was a Thursday),
    hour = floor(epoch mod 86400 / 3600) — so no engine/locale
    calendar functions are involved and the result is identical in
    any timezone configuration. One grouped aggregate.
    Output: (dow, hour, n_events, mean_value)."""
    ep = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000.0)
    return (
        events.select(
            F.pmod(F.floor(ep / 86400) + 4, F.lit(7)).cast("int").alias("dow"),
            F.floor(F.pmod(ep, F.lit(86400.0)) / 3600).cast("int").alias("hour"),
            F.col("value").cast("double").alias("v"),
        )
        .groupBy("dow", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
                / F.count("v"),
                6,
            ).alias("mean_value"),
        )
    )


def seasonality_profile_oracle_sql(table: str = "events") -> str:
    return """
SELECT CAST((floor(epoch(ts) / 86400) + 4) % 7 AS INTEGER) AS dow,
       CAST(floor((epoch(ts) % 86400) / 3600) AS INTEGER) AS hour,
       count(*) AS n_events,
       round(CAST(sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
             / count(value), 6) AS mean_value
FROM events
GROUP BY 1, 2
"""


def functional_dependencies(
    df: DataFrame,
    columns: list[str] | None = None,
    caches: list | None = None,
) -> DataFrame:
    """Functional-dependency discovery (the data-discovery profiling
    staple; complements P6 serial-key detection): for every ordered
    column pair (lhs, rhs), lhs → rhs holds exactly iff the number of
    distinct lhs values equals the number of distinct (lhs, rhs)
    pairs; ``strength`` = n_lhs / n_pairs (1.0 = exact FD) grades
    approximate dependencies. NULL is a value on both sides (DISTINCT
    projection + count(*), never count(DISTINCT col), which drops
    NULLs — in BOTH engines).

    Shape: C per-column distinct counts computed ONCE (one pruned
    aggregate each), C·(C−1) two-column distinct aggregates (map-side
    combine, no Expand — the N-countDistinct single-agg form re-scans
    the input N× through Expand, the round-3 profiler lesson), one
    broadcast join to attach n_lhs. Pair count is SCHEMA-bounded; at
    lake scale, restrict ``columns`` to profile-guided candidates
    (high-distinct lhs) exactly as FD miners do.

    Output: (lhs, rhs, n_lhs, n_pairs, exact_fd, strength)."""
    cols = columns or df.columns
    if len(cols) < 2:
        raise ValueError(
            f"functional_dependencies needs >= 2 columns, got {cols!r}"
        )
    # ONE persisted frame feeds all C + C·(C−1) distinct aggregates —
    # without it every pair aggregate re-scans the source (the C scans
    # ADVICE r6 flagged). DEDUPLICATED, not just projected: every
    # consumer reads only distinct counts, so dropDuplicates is a
    # semantic no-op that (a) shrinks the cached data and (b) puts a
    # Deduplicate node at the cached-plan root — a bare full-width
    # select(*all_columns) canonicalizes like the raw table, and
    # CacheManager then substitutes it under ANY other operator's scan
    # of the same table, un-pruning those scans (found: p13 built first
    # broke setsim's single-column ReadSchema pin session-wide).
    src = df.select(*cols).dropDuplicates().persist()
    if caches is not None:
        caches.append(src)
    return _fd_assemble(src, cols, cols)


def _fd_assemble(
    src: DataFrame,
    cols: list[str],
    lhs_cols: list[str],
    lhs_counts: DataFrame | None = None,
) -> DataFrame:
    """(lhs, rhs, n_lhs, n_pairs, exact_fd, strength) for every ordered
    pair with lhs in ``lhs_cols`` and rhs in ``cols``. ``lhs_counts``
    (lhs string, n_lhs bigint) lets a caller that already computed the
    single-column distinct counts pass them in instead of re-running
    the aggregates."""
    if lhs_counts is None:
        lhs_parts = [
            src.select(x)
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_lhs"))
            .select(F.lit(x).alias("lhs"), "n_lhs")
            for x in lhs_cols
        ]
        lhs_counts = lhs_parts[0]
        for part in lhs_parts[1:]:
            lhs_counts = lhs_counts.unionByName(part)
    pair_parts = [
        src.select(x, y)
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(F.lit(x).alias("lhs"), F.lit(y).alias("rhs"), "n_pairs")
        for x in lhs_cols
        for y in cols
        if x != y
    ]
    pairs = pair_parts[0]
    for part in pair_parts[1:]:
        pairs = pairs.unionByName(part)
    return pairs.join(F.broadcast(lhs_counts), "lhs").select(
        "lhs",
        "rhs",
        "n_lhs",
        "n_pairs",
        (F.col("n_lhs") == F.col("n_pairs")).alias("exact_fd"),
        # tie-safe quantizer: round() splits HALF_UP (Spark) vs
        # HALF_EVEN (DuckDB)
        (
            F.floor(
                F.col("n_lhs").cast("double") / F.col("n_pairs") * 1e9 + 0.5
            )
            / 1e9
        ).alias("strength"),
    )


def functional_dependencies_guided(
    df: DataFrame,
    columns: list[str] | None = None,
    tau: float = 0.9,
    caches: list | None = None,
) -> DataFrame:
    """Profile-guided FD discovery — the 100-TB shape (VERDICT r6 #5):
    instead of all C·(C−1) pair aggregates, derive the lhs candidate
    set FIRST (columns whose NULL-inclusive distinct count is
    >= tau·row_cnt — near-key columns, the only plausible determinant
    side, exactly how FD miners restrict their lattice), then run pair
    aggregates only for those lhs. Candidate selection is C bounded
    single-column counts over one persisted projection plus a ≤C-row
    collect — schema-bounded driver traffic, like the BPE merge loop.

    The comparison `n >= tau * rows` is one IEEE double multiply +
    compare, identical in python and DuckDB, so the oracle mirrors the
    candidate rule bit-exactly. Output schema == functional_dependencies.
    """
    cols = columns or df.columns
    if len(cols) < 2:
        raise ValueError(
            f"functional_dependencies needs >= 2 columns, got {cols!r}"
        )
    # raw row count BEFORE the dedup below (the tau guard compares
    # distinct counts against TABLE cardinality); pruned-scan count
    row_cnt = df.select(cols[0]).count()
    # deduplicated persist: same rationale as functional_dependencies
    # (all consumers are distinct counts; Deduplicate root defeats
    # full-width cache substitution under other operators' scans)
    src = df.select(*cols).dropDuplicates().persist()
    if caches is not None:
        caches.append(src)
    cand_parts = [
        src.select(x)
        .distinct()
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(x).alias("c"), "n")
        for x in cols
    ]
    cand_counts = cand_parts[0]
    for part in cand_parts[1:]:
        cand_counts = cand_counts.unionByName(part)
    n_by_col = {r.c: r.n for r in cand_counts.collect()}
    lhs_cols = [x for x in cols if n_by_col[x] >= tau * row_cnt]
    if not lhs_cols:
        # the returned empty frame never reads src — release it here or
        # the persisted projection strands in the cache for the session
        src.unpersist()
        if caches is not None:
            caches.remove(src)
        return df.sparkSession.createDataFrame(
            [],
            "lhs string, rhs string, n_lhs bigint, n_pairs bigint, "
            "exact_fd boolean, strength double",
        )
    # the surviving lhs distinct counts are ALREADY on the driver
    # (n_by_col) — feed them back as a literal frame instead of letting
    # _fd_assemble re-run the identical aggregates (the BPE-merge-loop
    # pattern: schema-bounded driver values become a broadcast frame)
    lhs_counts = df.sparkSession.createDataFrame(
        [(x, int(n_by_col[x])) for x in lhs_cols], "lhs string, n_lhs bigint"
    )
    return _fd_assemble(src, cols, lhs_cols, lhs_counts=lhs_counts)


def functional_dependencies_oracle_sql(
    table: str, columns: list[str], tau: float | None = None
) -> str:
    """MATERIALIZED CTE per count — DuckDB re-evaluates plain
    subqueries per reference (the pagerank 106s→0.7s lesson), so each
    distinct count must be computed exactly once. CTEs are named by
    column INDEX (l_0, p_0_1) — name-interpolated CTEs collide for
    underscore-containing columns ('a_b','c' vs 'a','b_c', ADVICE r6).

    ``tau`` mirrors functional_dependencies_guided: each pair SELECT
    is guarded by the candidate rule n_lhs >= tau * row_cnt (same
    double multiply + compare as the python side)."""
    if len(columns) < 2:
        raise ValueError(
            f"functional_dependencies needs >= 2 columns, got {columns!r}"
        )
    # rc is only read by the tau guard — emitting it unconditionally
    # costs the non-guided oracle an extra full-table count
    ctes = (
        [f"rc AS MATERIALIZED (SELECT count(*) AS c FROM {table})"]
        if tau is not None
        else []
    )
    ctes += [
        f"l_{i} AS MATERIALIZED (SELECT count(*) AS n "
        f"FROM (SELECT DISTINCT {x} FROM {table}) a)"
        for i, x in enumerate(columns)
    ]
    guard = (
        # string-cast double literal: a bare decimal makes DuckDB run
        # the candidate rule in exact DECIMAL arithmetic, not the IEEE
        # double multiply the python side uses (same trap as the
        # repr+'e0' literal in head_scores_algebra_oracle_sql)
        f"\nWHERE (SELECT n FROM l_{{i}})"
        f" >= CAST('{tau!r}' AS DOUBLE) * (SELECT c FROM rc)"
        if tau is not None
        else ""
    )
    sels = []
    for i, x in enumerate(columns):
        for j, y in enumerate(columns):
            if x == y:
                continue
            ctes.append(
                f"p_{i}_{j} AS MATERIALIZED (SELECT count(*) AS n "
                f"FROM (SELECT DISTINCT {x}, {y} FROM {table}) b)"
            )
            sels.append(
                f"""SELECT '{x}' AS lhs, '{y}' AS rhs,
       (SELECT n FROM l_{i}) AS n_lhs,
       (SELECT n FROM p_{i}_{j}) AS n_pairs,
       (SELECT n FROM l_{i}) = (SELECT n FROM p_{i}_{j}) AS exact_fd,
       floor(CAST((SELECT n FROM l_{i}) AS DOUBLE)
             / (SELECT n FROM p_{i}_{j}) * 1e9 + 0.5) / 1e9 AS strength"""
                + guard.format(i=i)
            )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(sels)

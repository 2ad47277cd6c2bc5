"""The Parquet sketch store — the engine's materialized profile cache.

Re-designs the reference's content-addressed ``.json.bz2`` sketch
documents (S7/S8/S10, data_prep.py:150-163/281-317,
tabular_dataset.py:72-89) as ONE partitioned Parquet dataset: one row
per (table_name, aug_id, column_name) carrying the full stat+sketch
set, plus one table-level row (column_name = '') with the content
snapshot. The store IS the index (S10): predicate pushdown on
table_name/aug_id replaces the reference's filename-cache JSON.

SK5 column-shuffle augmentation (data_prep.py:148-150, 288-291) is
seeded by md5(table|aug|column) — deterministic, partition-order-free
(SURVEY §7.5 risk 6), and reproducible in SQL by any engine.

SK6 content identity (joblib.hash at data_prep.py:298) becomes an
order-insensitive table hash: bit_xor of per-row 60-bit fingerprints —
exact, distributable (one aggregation), and engine-neutral.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from tabsketchfm_spark.functions.hashing import NUM_PERM, h32_sql, h64_sql
from tabsketchfm_spark.operators.minhash import _minhash_arrays
from tabsketchfm_spark.operators.profile import profile_table, spark_logical_type


def aug_column_order(table_name: str, columns: list[str], aug_id: int) -> list[str]:
    """SK5: deterministic column permutation for an augmentation.
    aug_id == 0 keeps the original order (reference keeps variant 0
    unshuffled, data_prep.py:288-291)."""
    if aug_id == 0:
        return list(columns)
    return sorted(
        columns,
        key=lambda c: hashlib.md5(
            f"{table_name}|{aug_id}|{c}".encode()
        ).hexdigest(),
    )


def table_content_hash(df: DataFrame, columns: list[str]) -> DataFrame:
    """SK6: order-insensitive exact content hash — bit_xor of 60-bit
    row fingerprints. One scan, one aggregate row."""
    row_str = F.concat_ws("\x01", *[F.col(c).cast("string") for c in columns])
    return df.select(row_str.alias("row_str")).select(
        F.expr(h64_sql("row_str", "spark")).alias("h")
    ).agg(F.expr("bit_xor(h)").alias("table_hash"))


def table_content_hash_oracle_sql(table: str, columns: list[str]) -> str:
    cols = ", ".join(f"CAST({c} AS VARCHAR)" for c in columns)
    h = h64_sql("row_str", "duckdb")
    return f"""
SELECT bit_xor({h}) AS table_hash
FROM (SELECT concat_ws(chr(1), {cols}) AS row_str FROM {table}) t
"""


def column_minhash_wide(
    df: DataFrame, columns: list[str], num_perm: int = NUM_PERM
) -> DataFrame:
    """(column_name, minhash array<bigint>) for the given columns —
    SK1 in store layout (one array per column)."""
    return _minhash_arrays(df, columns, num_perm, False).withColumnRenamed(
        "minhash", "minhash_exact"
    )


def build_sketch_rows(
    df: DataFrame,
    table_name: str,
    aug_id: int = 0,
    num_perm: int = NUM_PERM,
    caches: list | None = None,
) -> DataFrame:
    """Full sketch rows for one (table, aug): per-column stats (A1-A8)
    + exact-value MinHash + word MinHash for strings; column order /
    col_idx follows the augmentation permutation. ``caches`` receives
    the profiler's persisted frames (see profile_table) for a caller
    that materializes the rows eagerly to release."""
    dtypes = dict(df.dtypes)
    cols = [
        c for c in aug_column_order(table_name, df.columns, aug_id)
        if spark_logical_type(dtypes[c]) != "other"
    ]
    prof = profile_table(df, table_name, columns=cols, caches=caches)
    mh = column_minhash_wide(df, cols, num_perm)
    str_cols = [c for c in cols if spark_logical_type(dtypes[c]) == "string"]
    out = prof.join(mh, "column_name", "left")
    if str_cols:
        mw = _minhash_arrays(df, str_cols, num_perm, True).withColumnRenamed(
            "minhash", "minhash_words"
        )
        out = out.join(mw, "column_name", "left")
    else:
        out = out.withColumn(
            "minhash_words", F.lit(None).cast("array<bigint>")
        )
    return out.withColumn("aug_id", F.lit(aug_id))


def build_sketch_store(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    out_path: str,
    num_augs: int = 1,
    num_perm: int = NUM_PERM,
) -> None:
    """Materialize the sketch store: every (table, aug) sketched and
    appended to one Parquet dataset partitioned by table_name (pruning
    by table = partition pruning; by aug/column = row-group predicate
    pushdown)."""
    first = True
    for name, df in tables.items():
        for aug in range(num_augs):
            caches: list = []
            try:
                rows = build_sketch_rows(df, name, aug, num_perm, caches)
                rows.write.mode("overwrite" if first else "append").partitionBy(
                    "table_name"
                ).parquet(out_path)
            finally:
                # the written rows no longer need the profiler's
                # spread-and-persist frame; blocking=True so the release
                # is visible to a storage probe right after the build
                for c in caches:
                    c.unpersist(blocking=True)
            first = False


def read_sketch_store(spark: SparkSession, path: str) -> DataFrame:
    """S8/S10: the store scan — also the lake index (file_name →
    sketch lookup is a filter on table_name)."""
    return spark.read.parquet(path)


def store_incremental_update(
    df: DataFrame,
    table_name: str,
    columns: list[str],
    split_col: str,
    num_buckets: int = NUM_PERM,
) -> DataFrame:
    """The store MAINTENANCE path: a new partition arrives and the
    existing sketch-store entry must be updated without rescanning
    history — the reference's content-addressed cache
    (data_prep.py:150-163) done incrementally instead of
    recompute-on-hash-miss. Rows with ``split_col % 4 == 3`` play the
    arriving partition; the other three quarters are "yesterday's
    store". The query

    1. detects the change with the SK6 content hash (old vs full —
       the trigger that invalidates the cached entry),
    2. merges the stored OPH signatures with the new partition's
       (elementwise bucket MIN — minhash.merge_oph_signatures),
    3. merges the stored mergeable profile partials with the new
       partition's (exact decimal sums — profile.profile_merge_check),

    and proves each merged result equals the recompute-from-scratch
    bit-for-bit. Output, one row per column: (column_name, n_val,
    mean_v, std_v, min_v, max_v, n_buckets, stats_match, sigs_match,
    content_changed) — every flag TRUE on any input.
    """
    from tabsketchfm_spark.operators.minhash import (
        merge_oph_signatures,
        oph_signatures,
    )
    from tabsketchfm_spark.operators.profile import profile_merge_check

    new_pred = F.pmod(F.col(split_col), F.lit(4)) == 3
    old = df.where(~new_pred)
    new = df.where(new_pred)

    updated = merge_oph_signatures(
        oph_signatures(old, table_name, columns, num_buckets),
        oph_signatures(new, table_name, columns, num_buckets),
    )
    direct = oph_signatures(df, table_name, columns, num_buckets).select(
        "column_name", "bucket", F.col("sig").alias("sig_direct")
    )
    sig_cmp = (
        updated.join(direct, ["column_name", "bucket"], "full_outer")
        .groupBy("column_name")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_buckets"),
            (
                F.sum(
                    (F.col("sig") == F.col("sig_direct")).cast("int")
                )
                == F.count(F.lit(1))
            ).alias("sigs_match"),
        )
    )

    stats = profile_merge_check(
        df, table_name, columns, split_col, new_pred=new_pred
    ).withColumnRenamed("matches_direct", "stats_match")

    changed = (
        table_content_hash(old, columns)
        .select(F.col("table_hash").alias("old_hash"))
        .crossJoin(
            F.broadcast(
                table_content_hash(df, columns).select(
                    F.col("table_hash").alias("full_hash")
                )
            )
        )
        # null-safe: an empty "yesterday" store hashes to NULL and must
        # still read as changed (mirrors DuckDB IS DISTINCT FROM)
        .select(
            (~F.col("old_hash").eqNullSafe(F.col("full_hash"))).alias(
                "content_changed"
            )
        )
    )

    return stats.join(sig_cmp, "column_name").crossJoin(F.broadcast(changed))


def store_incremental_update_oracle_sql(
    table: str,
    columns: list[str],
    split_col: str,
    num_buckets: int = NUM_PERM,
) -> str:
    """Direct recompute with all-TRUE flags — any broken merge shows
    up as a value or flag mismatch. n_buckets is the occupied-bucket
    count of the direct signature; content_changed is a real hash
    comparison (TRUE whenever the arriving quarter is non-empty)."""
    h = h32_sql("v", "duckdb")
    hr = h64_sql("row_str", "duckdb")
    cols_str = ", ".join(f"CAST({c} AS VARCHAR)" for c in columns)
    stat_parts = []
    for c in columns:
        v = f"CAST({c} AS DOUBLE)"
        d = f"CAST({v} AS DECIMAL(19,6))"
        mean = f"(CAST(sum({d}) AS DOUBLE) / count({v}))"
        var = (
            f"greatest(CAST(sum({d} * {d}) AS DOUBLE) / count({v})"
            f" - {mean} * {mean}, 0.0)"
        )
        vals = (
            f"SELECT nullif(CAST({c} AS VARCHAR), '') AS v FROM {table} "
            f"WHERE nullif(CAST({c} AS VARCHAR), '') IS NOT NULL"
        )
        stat_parts.append(
            f"""SELECT '{c}' AS column_name, count({v}) AS n_val,
  round({mean}, 6) AS mean_v, round(sqrt({var}), 6) AS std_v,
  min({v}) AS min_v, max({v}) AS max_v,
  (SELECT CAST(count(DISTINCT h % {num_buckets}) AS INTEGER)
   FROM (SELECT {h} AS h FROM ({vals}) vals) hs) AS n_buckets,
  TRUE AS stats_match, TRUE AS sigs_match,
  (SELECT bit_xor({hr}) FROM (SELECT concat_ws(chr(1), {cols_str}) AS row_str
                              FROM {table} WHERE {split_col} % 4 <> 3) o)
  IS DISTINCT FROM
  (SELECT bit_xor({hr}) FROM (SELECT concat_ws(chr(1), {cols_str}) AS row_str
                              FROM {table}) f) AS content_changed
FROM {table}"""
        )
    return "\nUNION ALL\n".join(stat_parts)

"""Regression tests for the round-12 optimization-review fixes:
SQL-literal escaping, the load_table plan-memo staleness key, the
pack_sequences NULL-id contract, and the pagerank sig-cache release."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_sql_str_lit_roundtrips_metacharacter_names(spark):
    from tabsketchfm_spark.functions.sqltext import sql_ident, sql_str_lit

    weird = ["plain", "it's", "back\\slash", "a\\nb", "tick`name", "mix'\\`x"]
    for name in weird:
        lit = sql_str_lit(name)
        got = spark.sql(f"SELECT {lit} AS v").collect()[0].v
        assert got == name, f"literal round-trip broke: {name!r} -> {got!r}"
    # identifiers: select a column whose NAME contains metacharacters
    df = spark.createDataFrame([(1,)], ["x"]).select(
        F.col("x").alias("w`eird\\name")
    )
    ident = sql_ident("w`eird\\name")
    assert df.selectExpr(f"{ident} AS v").collect()[0].v == 1


def test_melt_values_handles_metacharacter_column_names(spark):
    from tabsketchfm_spark.operators.melt import melt_values

    df = spark.createDataFrame([("a", "b")], ["x", "y"]).select(
        F.col("x").alias("col'quote"), F.col("y").alias("col\\slash")
    )
    rows = {
        (r.column_name, r.v)
        for r in melt_values(df, spread=False).collect()
    }
    assert rows == {("col'quote", "a"), ("col\\slash", "b")}


def test_pack_sequences_drops_null_ids(spark):
    """NULL ids cannot be placed in the id-ordered packing; the lazy
    scheme drops them uniformly (docstring contract)."""
    from tabsketchfm_spark.operators.text import pack_sequences

    df = spark.createDataFrame(
        [(1, "one two"), (None, "ghost doc"), (2, "three")],
        "doc_id bigint, text string",
    )
    out = pack_sequences(df, id_col="doc_id", text_col="text").collect()
    ids = sorted(r.doc_id for r in out)
    assert ids == [1, 2]


def test_load_table_memo_misses_after_rewrite(spark, tmp_path):
    """A table REWRITTEN at the same path mid-session must not be served
    the stale memoized plan (mtime/size in the memo key)."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tabsketchfm_spark.sources.tables import load_table

    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [1, 2]}), path)
    assert load_table(spark, sf_dir, "region").count() == 2
    time.sleep(0.05)  # ensure a distinct mtime even on coarse clocks
    pq.write_table(pa.table({"r_regionkey": [1, 2, 3], "extra": [0, 0, 0]}), path)
    df2 = load_table(spark, sf_dir, "region")
    assert df2.count() == 3 and "extra" in df2.columns


def test_load_table_memo_evicts_stopped_applications(spark, tmp_path, monkeypatch):
    """Frames memoized under another application id belong to a stopped
    session; inserting a key must drop them, while the live entry is
    still served."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tabsketchfm_spark.sources import tables

    dead = ("dead-app", "/nowhere/region.parquet", "region", 0, 0)
    monkeypatch.setitem(tables._TABLE_PLAN_CACHE, dead, object())
    sf_dir = str(tmp_path)
    pq.write_table(pa.table({"r_regionkey": [1, 2]}), os.path.join(sf_dir, "region.parquet"))
    df = tables.load_table(spark, sf_dir, "region")
    assert dead not in tables._TABLE_PLAN_CACHE
    assert tables.load_table(spark, sf_dir, "region") is df


def _materialized_rdd_ids(spark) -> set:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id() for i in infos if i.numCachedPartitions() > 0}


def test_pagerank_build_releases_signature_cache(spark, sf01):
    """table_pagerank's eager edge collect must unpersist the OPH
    signature frame it materialized — building the query must leave no
    NEW materialized storage blocks behind.

    DELTA-based on purpose (round-12 driver flake): in a long-lived
    shared session other tests leave localCheckpoint RDD blocks that
    clearCache() does not release, so a global zero-blocks assert is
    polluted by test ordering. The claim here is only about blocks
    THIS build creates; the release itself is blocking=True in
    structural.py so the probe cannot race the async cleanup."""
    from tabsketchfm_spark.plans import registry

    before = _materialized_rdd_ids(spark)
    registry.queries()["k3g_table_pagerank"](spark, sf01)
    leaked = _materialized_rdd_ids(spark) - before
    assert not leaked, f"materialized cache leaked at build: rdd ids {leaked}"


def test_communities_build_releases_signature_cache(spark, sf01, monkeypatch):
    """table_communities runs the CC loop eagerly at build; the OPH
    signature persist from all_pairs_joinability must be released once
    the pair frame is localCheckpointed (round-12 ADVICE — the same
    leak class as pagerank). The CC loop legitimately leaves its own
    small materialized state referenced by the returned plan, so the
    check targets the signature caches directly via the caches seam."""
    from tabsketchfm_spark.operators import minhash
    from tabsketchfm_spark.plans import registry

    captured: list = []
    real = minhash.all_pairs_joinability

    def spy(spark_, sf_dir_, tables_, **kw):
        caches = kw.setdefault("caches", [])
        out = real(spark_, sf_dir_, tables_, **kw)
        captured.extend(caches)
        return out

    monkeypatch.setattr(minhash, "all_pairs_joinability", spy)
    registry.queries()["k3h_table_communities"](spark, sf01)
    assert captured, "seam not exercised: no signature caches captured"
    still = [
        c for c in captured
        if c.storageLevel.useMemory or c.storageLevel.useDisk
    ]
    assert not still, f"{len(still)} signature cache(s) left persisted"


def test_no_window_row_emits_toplevel_array_columns(spark, sf001):
    """The driver's canonicalizer cannot sort array-valued columns
    (round-12: store_kmeans_autorefresh_hot returned m array<bigint>
    and errored with 'unhashable type: list' in pandas sort_values) —
    no DRIVER-WINDOW row may have a top-level ArrayType/MapType column.
    Sweep-only rows (pq_codes etc.) may stay array-valued; the local
    parity canon normalizes sequences."""
    from pyspark.sql.types import ArrayType, MapType

    from oracle_util import built_query
    from tabsketchfm_spark.plans import registry

    bad = {}
    for name in registry.driver_window_names():
        df = built_query(spark, sf001, name)
        arr = [
            f.name for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType))
        ]
        if arr:
            bad[name] = arr
    assert not bad, f"window rows with array/map columns: {bad}"
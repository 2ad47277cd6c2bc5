"""Sketch store: build/read round-trip, SK5 augmentation determinism,
SK6 content hash, store-as-index pruning."""

from __future__ import annotations

from pyspark.sql import functions as F

from tabsketchfm_spark.sources.sketch_store import (
    aug_column_order,
    build_sketch_store,
    read_sketch_store,
    table_content_hash,
)
from tabsketchfm_spark.sources.tables import load_table


def test_aug_order_deterministic_and_identity():
    cols = ["a", "b", "c", "d"]
    assert aug_column_order("t", cols, 0) == cols
    p1 = aug_column_order("t", cols, 1)
    assert sorted(p1) == sorted(cols)
    assert aug_column_order("t", cols, 1) == p1  # stable
    assert aug_column_order("t2", cols, 1) != p1 or aug_column_order(
        "t", cols, 2
    ) != p1  # varies by table or aug


def test_store_roundtrip(spark, sf001, tmp_path):
    tables = {
        "region": load_table(spark, sf001, "region"),
        "nation": load_table(spark, sf001, "nation"),
    }
    out = str(tmp_path / "store")
    build_sketch_store(spark, tables, out, num_augs=2)
    store = read_sketch_store(spark, out)
    # one row per (table, aug, column)
    cnt = {
        (r.table_name, r.aug_id): r.n
        for r in store.groupBy("table_name", "aug_id").agg(F.count("*").alias("n")).collect()
    }
    assert cnt[("region", 0)] == 2 and cnt[("nation", 0)] == 3
    assert cnt[("region", 1)] == 2 and cnt[("nation", 1)] == 3
    # sketches have the contracted widths
    row = store.where("table_name = 'nation' AND aug_id = 0 AND column_name = 'n_name'").first()
    assert len(row.minhash_exact) == 100
    assert row.minhash_words is not None and len(row.minhash_words) == 100
    assert row.distinct_cnt == 25
    # augmentation permutes col_idx but not stats
    idx0 = {
        r.column_name: r.col_idx
        for r in store.where("table_name='nation' AND aug_id=0").collect()
    }
    idx1 = {
        r.column_name: r.col_idx
        for r in store.where("table_name='nation' AND aug_id=1").collect()
    }
    assert idx0 != idx1
    # store is the index: partition pruning on table_name
    plan = store.where("table_name = 'region'")._jdf.queryExecution().executedPlan().toString()
    assert "region" in plan


def test_store_word_signatures_match_oracle(spark, sf001, tmp_path):
    """Every string column's stored word MinHash equals the DuckDB
    word-token oracle, perm by perm — the store's minhash_words is the
    same SK2 sketch minhash_signatures(words=True) defines."""
    from tabsketchfm_spark.functions.hashing import NUM_PERM
    from tabsketchfm_spark.operators.minhash import minhash_signatures_oracle_sql
    from tests.oracle_util import run_oracle

    tables = {
        t: load_table(spark, sf001, t) for t in ("nation", "part", "documents")
    }
    out = str(tmp_path / "store_words")
    build_sketch_store(spark, tables, out)
    store = read_sketch_store(spark, out)
    for t, df in tables.items():
        str_cols = [c for c, d in df.dtypes if d == "string"]
        got = {
            r.column_name: list(r.minhash_words)
            for r in store.where(
                (F.col("table_name") == t) & F.col("minhash_words").isNotNull()
            ).collect()
        }
        want: dict[str, list] = {c: [None] * NUM_PERM for c in str_cols}
        oracle = run_oracle(
            minhash_signatures_oracle_sql(t, str_cols, words=True), sf001
        )
        for r in oracle.itertuples():
            want[r.column_name][r.perm] = int(r.sig)
        assert got == want, t


def test_search_from_stored_sketches(spark, sf001, tmp_path):
    """S8→K3: the jaccard estimate computed FROM the parquet store
    equals the estimate computed directly from the data — the store is
    a lossless materialization of the sketch pipeline."""
    from pyspark.sql import functions as F

    from tabsketchfm_spark.operators.minhash import (
        minhash_jaccard_estimate,
        minhash_signatures,
    )

    tables = {
        "customer": load_table(spark, sf001, "customer"),
        "orders": load_table(spark, sf001, "orders"),
    }
    out = str(tmp_path / "store2")
    build_sketch_store(spark, tables, out, num_augs=1)
    store = read_sketch_store(spark, out)

    def sigs_from_store(table, col):
        return (
            store.where(
                (F.col("table_name") == table) & (F.col("column_name") == col)
            )
            .select(
                "table_name",
                "column_name",
                F.posexplode("minhash_exact").alias("perm", "sig"),
            )
        )

    est_store = minhash_jaccard_estimate(
        sigs_from_store("orders", "o_custkey"), sigs_from_store("customer", "c_custkey")
    ).first()
    est_direct = minhash_jaccard_estimate(
        minhash_signatures(tables["orders"], "orders", ["o_custkey"]),
        minhash_signatures(tables["customer"], "customer", ["c_custkey"]),
    ).first()
    assert est_store.est_jaccard == est_direct.est_jaccard


def test_store_build_releases_profiler_cache(spark, sf001, tmp_path):
    """build_sketch_store writes each (table, aug) eagerly, so the
    profiler's spread-and-persist frame must be released after the
    write — the build leaves no NEW materialized storage blocks behind.
    Delta-based like the pagerank release test: other tests in the
    shared session may hold blocks of their own."""
    from tabsketchfm_spark.sources.tables import spread
    from tests.test_optimization_fixes import _materialized_rdd_ids

    orders = load_table(spark, sf001, "orders")
    # one row group: spread fires, so the profiler persists its input
    assert spread(orders) is not orders
    before = _materialized_rdd_ids(spark)
    build_sketch_store(spark, {"orders": orders}, str(tmp_path / "store3"))
    leaked = _materialized_rdd_ids(spark) - before
    assert not leaked, f"materialized cache leaked by the build: rdd ids {leaked}"


def test_content_hash_deterministic_and_sensitive(spark, sf001):
    nation = load_table(spark, sf001, "nation")
    h1 = table_content_hash(nation, nation.columns).first().table_hash
    h2 = table_content_hash(nation, nation.columns).first().table_hash
    assert h1 == h2
    h3 = table_content_hash(nation.limit(10), nation.columns).first().table_hash
    assert h1 != h3


def test_store_incremental_update_all_flags_true(spark, sf001):
    """Store lifecycle: merging the arriving quarter's signatures and
    profile partials into 'yesterday's' store entry must equal the
    recompute bit-for-bit for every column, and the content-hash gate
    must report the change."""
    from tabsketchfm_spark.sources.sketch_store import store_incremental_update

    li = load_table(spark, sf001, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    rows = store_incremental_update(li, "lineitem", cols, "l_orderkey").collect()
    assert {r.column_name for r in rows} == set(cols)
    assert all(r.stats_match for r in rows)
    assert all(r.sigs_match for r in rows)
    assert all(r.content_changed for r in rows)
    assert all(r.n_buckets > 0 for r in rows)


def test_store_incremental_update_unchanged_partition(spark, sf001):
    """With an EMPTY arriving partition (no rows hit split % 4 == 3 on
    a doctored key) the content gate reports no change and the merged
    store still equals the recompute — the idempotent no-op update."""
    from pyspark.sql import functions as F

    from tabsketchfm_spark.sources.sketch_store import store_incremental_update

    li = load_table(spark, sf001, "lineitem").withColumn(
        "k4", (F.col("l_orderkey") * 4).cast("bigint")
    )
    rows = store_incremental_update(
        li, "lineitem", ["l_quantity", "l_discount"], "k4"
    ).collect()
    assert all(not r.content_changed for r in rows)
    assert all(r.stats_match and r.sigs_match for r in rows)

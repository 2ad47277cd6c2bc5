"""The candidate-bounded sketch searches: joinability, unionability and
subset search rank one row per candidate the caller named, sketch the
candidate tables in one aggregate, and share that frame through
Spark's cache — so a table rewritten at the same path must not be
served from it."""

from __future__ import annotations

import hashlib
import os
import re
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from tabsketchfm_spark.operators import minhash as mh
from tests.oracle_util import assert_match
from tests.test_optimization_fixes import _materialized_rdd_ids


def _write(lake: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(lake, f"{name}.parquet"))


def _oracle(lake: str, sql: str):
    con = duckdb.connect()
    for f in os.listdir(lake):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{lake}/{f}'")
    return con.execute(sql).fetchdf()


def _bucket(v) -> int:
    """The OPH bucket of a value (h32 mod 100, functions/hashing.py)."""
    return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16) % 100


def _check_searches(spark, lake, query_table, query_cols, cands):
    """Each search equals its oracle twin and ranks 1..n with no gaps;
    returns each search's rows (OPH and k-perm joinability,
    unionability, subset)."""
    items = list(cands.items())
    pairs = [
        (mh.joinability_search_oph(spark, lake, (query_table, query_cols[0]), items),
         mh.joinability_oph_oracle_sql((query_table, query_cols[0]), items)),
        (mh.joinability_search(spark, lake, (query_table, query_cols[0]), items),
         mh.joinability_oracle_sql((query_table, query_cols[0]), items)),
        (mh.unionability_search(spark, lake, query_table, query_cols, cands),
         mh.unionability_oracle_sql(query_table, query_cols, cands)),
        (mh.subset_search(spark, lake, query_table, query_cols, cands),
         mh.subset_search_oracle_sql(query_table, query_cols, cands)),
    ]
    out = []
    for sdf, sql in pairs:
        rows = sdf.collect()
        assert sorted(r["rank"] for r in rows) == list(range(1, len(rows) + 1))
        assert_match(sdf, _oracle(lake, sql))
        out.append(rows)
    return out


def test_bounded_ranks_keep_every_candidate_row(spark, tmp_path):
    """A repeated (table, column), an all-NULL column and a table that
    shares no bucket with the query: every row the oracle has is
    ranked, so k = the candidate list's length never drops one."""
    lake = str(tmp_path)
    q = list(range(60))
    s = [f"v{i}" for i in q]
    taken = {_bucket(v) for v in q + s}
    lone = next(v for v in range(1000, 100000) if _bucket(v) not in taken)
    _write(lake, "qt", {"k": q, "s": s})
    _write(lake, "ct", {"k": list(range(30, 90)), "nul": pa.nulls(60, pa.int64()),
                        "s": [f"v{i}" for i in range(40, 100)]})
    _write(lake, "far", {"k": [lone]})
    _write(lake, "sub", {"k": list(range(30))})
    cands = {"ct": ["k", "nul", "k", "s"], "far": ["k"], "sub": ["k"]}
    join_oph, join_kperm, union, subset = _check_searches(spark, lake, "qt", ["k", "s"], cands)
    expect = {("ct", "k"), ("ct", "s"), ("far", "k"), ("sub", "k")}
    assert {(r.cand_table, r.cand_column) for r in join_oph} == expect
    assert {(r.cand_table, r.cand_column) for r in join_kperm} == expect
    assert [r.est_jaccard for r in join_oph if r.cand_table == "far"] == [0.0]
    assert {r.cand_table for r in union} == {"ct", "far", "sub"}
    assert {r.cand_table for r in subset} == {"ct", "sub"}  # far shares no bucket


def test_searches_after_table_rewrite_match_oracle(spark, tmp_path):
    """A candidate rewritten at the same path with disjoint values: the
    new plan canonicalizes equal to the persisted frame over the old
    file, so without a refresh Spark's cache serves the old
    signatures."""
    lake = str(tmp_path)
    _write(lake, "qt", {"k": list(range(200))})
    _write(lake, "ct", {"k": list(range(100, 300))})
    query, cands = ("qt", "k"), {"ct": ["k"]}

    def check():
        join = mh.joinability_search_oph(spark, lake, query, list(cands.items()))
        assert_match(join, _oracle(lake, mh.joinability_oph_oracle_sql(query, list(cands.items()))))
        union = mh.unionability_search(spark, lake, "qt", ["k"], cands)
        assert_match(union, _oracle(lake, mh.unionability_oracle_sql("qt", ["k"], cands)))
        return join.collect()[0].est_jaccard

    assert check() > 0.0
    time.sleep(0.05)  # a distinct mtime even on coarse clocks
    _write(lake, "ct", {"k": list(range(1000, 1200))})
    assert check() == 0.0


def _bucket_exchanges(df) -> set:
    """plan ids of the hash Exchanges of an OPH bucket aggregate."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return set(re.findall(r"Exchange hashpartitioning\([^)]*_groupingexpression[^\n]*plan_id=(\d+)", plan))


def test_table_searches_sketch_candidates_in_one_aggregate(spark, tmp_path):
    """One bucket-aggregate Exchange for the query table and one for ALL
    candidate tables, whatever their number."""
    lake = str(tmp_path)
    for i in range(5):
        _write(lake, f"t{i}", {"a": list(range(i, i + 20)), "b": [str(j) for j in range(20)]})
    for n in (2, 4):
        union = mh.unionability_search(
            spark, lake, "t0", ["a", "b"], {f"t{i}": ["a"] for i in range(1, n + 1)})
        subset = mh.subset_search(
            spark, lake, "t0", ["a", "b"], {f"t{i}": ["b"] for i in range(1, n + 1)})
        assert len(_bucket_exchanges(union)) == 2, n
        assert len(_bucket_exchanges(subset)) == 2, n


def test_unionability_reuses_joinability_candidate_cache(spark, tmp_path):
    """Joinability persists the candidate signatures; unionability over
    the same candidates builds the same plan, so the only frame it adds
    to the cache is its own query side. Delta-based, like the
    profiler-release test: other tests hold blocks of their own."""
    lake = str(tmp_path)
    _write(lake, "qt", {"k": list(range(50)), "s": [str(i) for i in range(50)]})
    _write(lake, "ct", {"k": list(range(25, 75))})
    _write(lake, "dt", {"s": [str(i) for i in range(40)]})
    cands = {"ct": ["k"], "dt": ["s"]}
    mh.joinability_search_oph(spark, lake, ("qt", "k"), list(cands.items())).collect()
    before = _materialized_rdd_ids(spark)
    mh.unionability_search(spark, lake, "qt", ["k", "s"], cands).collect()
    added = _materialized_rdd_ids(spark) - before
    assert len(added) == 1, f"unionability cached {len(added)} new frames: rdd ids {added}"


def test_column_vote_is_partitioning_independent(spark, sf01):
    """dist_sum is an exact decimal sum, so the rows do not depend on
    how the embeddings are partitioned."""
    from tabsketchfm_spark.operators.vector import column_vote_search
    from tabsketchfm_spark.sources.tables import load_table

    emb = load_table(spark, sf01, "embeddings")
    one = column_vote_search(emb.repartition(1)).collect()
    seven = column_vote_search(emb.repartition(7)).collect()
    assert sorted(one) == sorted(seven)

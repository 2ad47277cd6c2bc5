"""Structural / bookkeeping operators (SURVEY §2.2 P8-P10, §2.5 J1/J2/
J5, §2.7 T1/T5, §2.3 A10, §2.8 K2/K5, §2.10 M10).

These are the reference's hand-rolled dict/list manipulations re-cast
as relational ops: the sketch store is the index (J1 = broadcast
lookup join), pair completeness is a semi/anti join (J2/P8), the
evaluation harness is a join against ground truth (K5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tabsketchfm_spark.sources.tables import TABLE_NAMES, load_table


def lake_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/S10/A9: the lake's table index — one row per table with its
    row count (the store-side of every lookup join)."""
    out = None
    for t in TABLE_NAMES:
        d = load_table(spark, sf_dir, t).agg(
            F.lit(t).alias("table_name"), F.count(F.lit(1)).alias("n_rows")
        )
        out = d if out is None else out.unionByName(d)
    return out


def lake_index_oracle_sql() -> str:
    parts = [
        f"SELECT '{t}' AS table_name, count(*) AS n_rows FROM {t}"
        for t in TABLE_NAMES
    ]
    return "\nUNION ALL\n".join(parts)


PAIR_REQUESTS: list[tuple[str, str]] = [
    ("customer", "supplier"),
    ("orders", "lineitem"),
    ("customer", "no_such_table"),
    ("ghost", "orders"),
]


def pair_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/P8 (reference tabular_dataset.py:91-111): requested table
    pairs are kept only if BOTH sides exist in the lake index; the anti
    side is reported instead of silently substituted (P11 is an
    anti-feature — SURVEY §2.2). Output: (t1, t2, status)."""
    idx = lake_index(spark, sf_dir).select("table_name")
    pairs = spark.createDataFrame(PAIR_REQUESTS, "t1 string, t2 string")
    both = (
        pairs.join(F.broadcast(idx.withColumnRenamed("table_name", "t1")), "t1", "left_semi")
        .join(F.broadcast(idx.withColumnRenamed("table_name", "t2")), "t2", "left_semi")
        .select("t1", "t2", F.lit("ok").alias("status"))
    )
    missing = (
        pairs.join(both.select("t1", "t2"), ["t1", "t2"], "left_anti")
        .select("t1", "t2", F.lit("missing").alias("status"))
    )
    return both.unionByName(missing)


def pair_completeness_oracle_sql() -> str:
    vals = ", ".join(f"('{a}', '{b}')" for a, b in PAIR_REQUESTS)
    idx = lake_index_oracle_sql()
    return f"""
WITH idx AS ({idx}),
pairs(t1, t2) AS (VALUES {vals})
SELECT t1, t2,
       CASE WHEN t1 IN (SELECT table_name FROM idx)
             AND t2 IN (SELECT table_name FROM idx)
            THEN 'ok' ELSE 'missing' END AS status
FROM pairs
"""


def self_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 (extract_embeddings.py:164-179): each lake table paired with
    itself, label 1 — the frame that drives embedding extraction."""
    idx = lake_index(spark, sf_dir)
    return idx.select(
        F.col("table_name").alias("table1"),
        F.col("table_name").alias("table2"),
        F.lit(1).alias("label"),
        "n_rows",
    )


def self_pairs_oracle_sql() -> str:
    return f"""
SELECT table_name AS table1, table_name AS table2, 1 AS label, n_rows
FROM ({lake_index_oracle_sql()}) idx
"""


def sorted_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 (tabular_tokenizer.py:291): canonical name-sorted column
    order per table — the similarity tokenizer's layout."""
    from tabsketchfm_spark.plans.schemas import TABLE_SCHEMAS

    rows = [
        (t, c, i)
        for t, schema in sorted(TABLE_SCHEMAS.items())
        for i, c in enumerate(sorted(c for c, _lt in schema))
    ]
    return spark.createDataFrame(
        rows, "table_name string, column_name string, sort_idx int"
    )


def sorted_columns_oracle_sql() -> str:
    from tabsketchfm_spark.plans.schemas import TABLE_SCHEMAS

    vals = ", ".join(
        f"('{t}', '{c}', {i})"
        for t, schema in sorted(TABLE_SCHEMAS.items())
        for i, c in enumerate(sorted(c for c, _lt in schema))
    )
    return (
        "SELECT t AS table_name, c AS column_name, i AS sort_idx "
        f"FROM (VALUES {vals}) v(t, c, i)"
    )


def value_doc(
    df: DataFrame, table: str, columns: list[str], cap: int = 100
) -> DataFrame:
    """K2 (embedding_search.py:25-42): the first ``cap`` unique values
    of each column joined by commas — the sentence-transformer input
    doc. Order is canonical (sorted) so the doc is deterministic under
    distribution (the reference relied on pandas row order).
    Output: (table_name, column_name, n_values, value_doc)."""
    out = None
    for c in columns:
        d = (
            df.select(F.nullif(F.col(c).cast("string"), F.lit("")).alias("v"))
            .where(F.col("v").isNotNull())
            .agg(
                F.lit(table).alias("table_name"),
                F.lit(c).alias("column_name"),
                F.least(F.countDistinct("v"), F.lit(cap)).alias("n_values"),
                F.concat_ws(
                    ",", F.slice(F.array_sort(F.collect_set("v")), 1, cap)
                ).alias("value_doc"),
            )
        )
        out = d if out is None else out.unionByName(d)
    return out


def value_doc_oracle_sql(table: str, columns: list[str], cap: int = 100) -> str:
    parts = []
    for c in columns:
        parts.append(
            f"""SELECT '{table}' AS table_name, '{c}' AS column_name,
              least(count(DISTINCT v), {cap}) AS n_values,
              array_to_string(list_sort(list(DISTINCT v))[1:{cap}], ',') AS value_doc
            FROM (SELECT nullif(CAST({c} AS VARCHAR), '') AS v FROM {table}) t
            WHERE v IS NOT NULL"""
        )
    return "\nUNION ALL\n".join(parts)


SEARCH_TRUTH: list[tuple[str, str]] = [
    ("orders.o_custkey", "customer.c_custkey"),
    ("lineitem.l_orderkey", "orders.o_orderkey"),
]


def search_eval(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """K5 (embedding_search.py:4-8, 231-234): precision/recall@k of the
    joinability search against ground truth. The ranking is the OPH
    flagship; truth is the known key relationships."""
    from tabsketchfm_spark.operators.minhash import joinability_search_oph
    from tabsketchfm_spark.plans.registry import JOIN_CANDIDATES, JOIN_QUERY

    ranked = joinability_search_oph(spark, sf_dir, JOIN_QUERY, JOIN_CANDIDATES)
    truth = spark.createDataFrame(
        [t for t in SEARCH_TRUTH if t[0] == "orders.o_custkey"],
        "query string, truth string",
    ).select(
        "query", F.split(F.col("truth"), r"\.").alias("parts")
    ).select(
        "query",
        F.col("parts")[0].alias("cand_table"),
        F.col("parts")[1].alias("cand_column"),
        F.lit(1).alias("relevant"),
    )
    topk = ranked.where(F.col("rank") <= k).join(
        F.broadcast(truth), ["cand_table", "cand_column"], "left"
    )
    return topk.agg(
        F.lit("orders.o_custkey").alias("query"),
        F.lit(k).alias("k"),
        (F.count(F.when(F.col("relevant") == 1, 1)) / F.lit(float(k))).alias(
            "precision_at_k"
        ),
        (
            F.count(F.when(F.col("relevant") == 1, 1))
            / F.lit(float(len([t for t in SEARCH_TRUTH if t[0] == "orders.o_custkey"])))
        ).alias("recall_at_k"),
    )


def search_eval_oracle_sql(k: int = 3) -> str:
    from tabsketchfm_spark.operators.minhash import joinability_oph_oracle_sql
    from tabsketchfm_spark.plans.registry import JOIN_CANDIDATES, JOIN_QUERY

    ranking = joinability_oph_oracle_sql(JOIN_QUERY, JOIN_CANDIDATES)
    n_rel = len([t for t in SEARCH_TRUTH if t[0] == "orders.o_custkey"])
    truth_vals = ", ".join(
        f"('{t.split('.')[0]}', '{t.split('.')[1]}')"
        for q, t in SEARCH_TRUTH
        if q == "orders.o_custkey"
    )
    return f"""
WITH ranking AS ({ranking}),
truth(cand_table, cand_column) AS (VALUES {truth_vals}),
topk AS (SELECT r.*, CASE WHEN t.cand_table IS NOT NULL THEN 1 END AS relevant
         FROM ranking r LEFT JOIN truth t USING (cand_table, cand_column)
         WHERE r.rank <= {k})
SELECT 'orders.o_custkey' AS query, {k} AS k,
       count(CASE WHEN relevant = 1 THEN 1 END) / CAST({k} AS DOUBLE) AS precision_at_k,
       count(CASE WHEN relevant = 1 THEN 1 END) / CAST({n_rel} AS DOUBLE) AS recall_at_k
FROM topk
"""


def zorder_key(
    df: DataFrame,
    col_a: str,
    col_b: str,
    id_cols: list[str],
    bits: int = 16,
) -> DataFrame:
    """Z-order (Morton) interleave key for two integer dimensions —
    the data-LAYOUT operator of a 100 TB lake: writing files sorted by
    zkey co-locates rows that are near in BOTH dimensions, so range
    predicates on either column prune file-level min/max zones
    (the technique behind Delta/Iceberg OPTIMIZE ZORDER). Each
    dimension is offset to its min (broadcast 1-row scalar), clamped
    to ``bits`` bits, and the bits interleave via an unrolled integer
    expression — exact in any engine, no UDF. Output: (*id_cols,
    zkey); sort by zkey at write time.
    """
    mins = df.agg(
        F.min(F.col(col_a)).alias("_ma"), F.min(F.col(col_b)).alias("_mb")
    )
    cap = (1 << bits) - 1
    ua = F.least(F.col(col_a) - F.col("_ma"), F.lit(cap)).cast("bigint")
    ub = F.least(F.col(col_b) - F.col("_mb"), F.lit(cap)).cast("bigint")
    z = None
    for i in range(bits):
        ta = F.shiftleft(F.shiftright(ua, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        tb = F.shiftleft(F.shiftright(ub, i).bitwiseAND(F.lit(1)), 2 * i)
        z = ta + tb if z is None else z + ta + tb
    return df.crossJoin(F.broadcast(mins)).select(
        *id_cols, z.alias("zkey")
    )


def zorder_key_oracle_sql(
    table: str, col_a: str, col_b: str, id_cols: list[str], bits: int = 16
) -> str:
    cap = (1 << bits) - 1
    terms = []
    for i in range(bits):
        terms.append(f"((((ua >> {i}) & 1) << {2 * i + 1}) + (((ub >> {i}) & 1) << {2 * i}))")
    zsum = " + ".join(terms)
    ids = ", ".join(id_cols)
    return f"""
WITH mins AS (SELECT min({col_a}) AS ma, min({col_b}) AS mb FROM {table}),
u AS (SELECT {ids},
             CAST(least({col_a} - ma, {cap}) AS BIGINT) AS ua,
             CAST(least({col_b} - mb, {cap}) AS BIGINT) AS ub
      FROM {table}, mins)
SELECT {ids}, {zsum} AS zkey FROM u
"""


def forget_keys(spark, sf_dir: str, mod: int = 97) -> DataFrame:
    """Delete-propagation audit (the right-to-be-forgotten pass at
    lake scale): given a deletion set of customers (here the
    deterministic stand-in ``c_custkey % mod == 0``), count the rows
    each table must drop — customers themselves, their orders
    (broadcast semi-join on the tiny victim set), and the lineitems of
    those orders — plus the SK6 content-hash change flag proving the
    cached sketch entries invalidate. At 100 TB this is the exact
    plan you'd run: broadcast the deletion keys into each fact scan,
    anti-join-rewrite the files, re-hash. All counts exact.
    Output: (table_name, rows_before, rows_removed, rows_after).
    """
    from tabsketchfm_spark.sources.tables import load_table

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    victims = cust.where(F.col("c_custkey") % mod == 0).select("c_custkey")
    dead_orders = orders.join(
        F.broadcast(victims), orders.o_custkey == F.col("c_custkey"), "left_semi"
    )
    dead_li = li.join(
        dead_orders.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    )

    def row(name: str, total: DataFrame, dead: DataFrame) -> DataFrame:
        t = total.agg(F.count(F.lit(1)).alias("rows_before"))
        d = dead.agg(F.count(F.lit(1)).alias("rows_removed"))
        return t.crossJoin(F.broadcast(d)).select(
            F.lit(name).alias("table_name"),
            "rows_before",
            "rows_removed",
            (F.col("rows_before") - F.col("rows_removed")).alias("rows_after"),
        )

    return (
        row("customer", cust, victims)
        .unionByName(row("orders", orders, dead_orders))
        .unionByName(row("lineitem", li, dead_li))
    )


def forget_keys_oracle_sql(mod: int = 97) -> str:
    return f"""
WITH v AS (SELECT c_custkey FROM customer WHERE c_custkey % {mod} = 0),
do_ AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM v)),
dl AS (SELECT 1 FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM do_))
SELECT 'customer' AS table_name,
       (SELECT count(*) FROM customer) AS rows_before,
       (SELECT count(*) FROM v) AS rows_removed,
       (SELECT count(*) FROM customer) - (SELECT count(*) FROM v) AS rows_after
UNION ALL
SELECT 'orders', (SELECT count(*) FROM orders), (SELECT count(*) FROM do_),
       (SELECT count(*) FROM orders) - (SELECT count(*) FROM do_)
UNION ALL
SELECT 'lineitem', (SELECT count(*) FROM lineitem), (SELECT count(*) FROM dl),
       (SELECT count(*) FROM lineitem) - (SELECT count(*) FROM dl)
"""


def reshard_analysis(
    df: DataFrame, key_col: str, n_from: int = 8, n_to: int = 9
) -> DataFrame:
    """Resharding-cost comparison for growing a bucketed lake from
    ``n_from`` to ``n_to`` shards (one added shard): under mod-hash
    placement nearly EVERY row moves (h mod n changes for ~n/(n+1) of
    keys), while rendezvous/HRW hashing (highest-random-weight: owner
    = argmax over shards of h(key|shard)) moves only the rows the NEW
    shard wins — the minimal-movement guarantee (~1/(n+1)). With one
    added shard the HRW test needs no argmax bookkeeping at all:
    moved ⇔ the new shard's weight beats every old shard's. Pure
    scalar md5 expressions, bit-exact oracle.
    Output: (scheme, n_rows, n_moved, moved_frac)."""
    from tabsketchfm_spark.functions.hashing import h32_sql

    assert n_to == n_from + 1, "analysis covers the add-one-shard step"
    h = F.expr(h32_sql(key_col, "spark"))
    mod_moved = (F.pmod(h, F.lit(n_from)) != F.pmod(h, F.lit(n_to))).cast("int")
    weights = [
        F.expr(h32_sql(f"concat('sh|{i}|', cast({key_col} as string))", "spark"))
        for i in range(n_to)
    ]
    hrw_moved = (weights[n_from] > F.greatest(*weights[:n_from])).cast("int")
    base = df.select(mod_moved.alias("m"), hrw_moved.alias("r"))
    agg = base.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("m").alias("mod_moved"),
        F.sum("r").alias("hrw_moved"),
    )
    # ONE pass: exploding the single agg row into the two scheme rows
    # avoids the union-of-two-consumers shape that re-runs the whole
    # scan (and its 10 md5s per row) per branch
    schemes = F.array(
        F.struct(
            F.lit("mod_hash").alias("scheme"),
            F.col("n_rows").alias("n_rows"),
            F.col("mod_moved").alias("n_moved"),
            F.round(F.col("mod_moved") / F.col("n_rows"), 6).alias("moved_frac"),
        ),
        F.struct(
            F.lit("rendezvous").alias("scheme"),
            F.col("n_rows").alias("n_rows"),
            F.col("hrw_moved").alias("n_moved"),
            F.round(F.col("hrw_moved") / F.col("n_rows"), 6).alias("moved_frac"),
        ),
    )
    return agg.select(F.explode(schemes).alias("s")).select("s.*")


def reshard_analysis_oracle_sql(
    table: str, key_col: str, n_from: int = 8, n_to: int = 9
) -> str:
    from tabsketchfm_spark.functions.hashing import h32_sql

    h = h32_sql(key_col, "duckdb")
    ws = [
        h32_sql(f"concat('sh|{i}|', CAST({key_col} AS VARCHAR))", "duckdb")
        for i in range(n_to)
    ]
    old_max = "greatest(" + ", ".join(ws[:n_from]) + ")"
    return f"""
WITH agg AS (SELECT count(*) AS n_rows,
                    sum(CASE WHEN ({h}) % {n_from} <> ({h}) % {n_to} THEN 1 ELSE 0 END) AS mod_moved,
                    sum(CASE WHEN ({ws[n_from]}) > {old_max} THEN 1 ELSE 0 END) AS hrw_moved
             FROM {table})
SELECT 'mod_hash' AS scheme, n_rows, CAST(mod_moved AS BIGINT) AS n_moved,
       round(mod_moved / CAST(n_rows AS DOUBLE), 6) AS moved_frac FROM agg
UNION ALL
SELECT 'rendezvous', n_rows, CAST(hrw_moved AS BIGINT),
       round(hrw_moved / CAST(n_rows AS DOUBLE), 6) FROM agg
"""


# --- CDC / changelog maintenance --------------------------------------------
# The lake-maintenance counterpart to the snapshot scans: treat the
# events table as a per-user changelog ('error' rows are delete
# tombstones, everything else upserts a value) and derive (a) the
# merge-on-read compacted latest state and (b) the SCD2 validity
# history. At 100 TB both are the canonical plans: compaction is ONE
# hash shuffle with a map-side-combinable lexicographic-max aggregate
# (no window, no per-key row retention), history is a per-key window
# whose partitions are bounded by per-user event counts.


def cdc_latest_state(events: DataFrame) -> DataFrame:
    """Merge-on-read compaction: the last (ts, event_id)-ordered event
    per user wins; users whose last event is a tombstone disappear.
    max(struct(...)) is associative/commutative → partial aggregation
    on the map side, single shuffle keyed user_id.
    Output: (user_id, last_event_id, last_es, last_type, last_value)."""
    e = events.select(
        "user_id",
        F.struct(
            (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000.0)).alias(
                "es"
            ),
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("et"),
            F.col("value").alias("v"),
        ).alias("s"),
    )
    last = e.groupBy("user_id").agg(F.max("s").alias("s"))
    return (
        last.where(F.col("s.et") != "error")
        .select(
            "user_id",
            F.col("s.eid").alias("last_event_id"),
            F.col("s.es").alias("last_es"),
            F.col("s.et").alias("last_type"),
            F.col("s.v").alias("last_value"),
        )
    )


def cdc_latest_state_oracle_sql() -> str:
    return """
WITH ranked AS (
  SELECT user_id, event_id, epoch(ts) AS es, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch(ts) DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, event_id AS last_event_id, es AS last_es,
       event_type AS last_type, value AS last_value
FROM ranked WHERE rn = 1 AND event_type <> 'error'
"""


def cdc_scd2_history(events: DataFrame) -> DataFrame:
    """SCD2 validity intervals from the changelog: each upsert opens an
    interval at its timestamp and closes at the next change (upsert OR
    tombstone); tombstones only close — they emit no row. is_current
    marks open intervals. The per-user window partition is bounded by
    that user's event count — never by table volume.
    Output: (user_id, event_id, event_type, value, valid_from,
    valid_to, is_current)."""
    from pyspark.sql import Window

    es = (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000.0)).alias("es")
    e = events.select("user_id", "event_id", "event_type", "value", es)
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    hist = e.withColumn("valid_to", F.lead("es").over(w))
    return (
        hist.where(F.col("event_type") != "error")
        .select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            F.col("es").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


def cdc_scd2_history_oracle_sql() -> str:
    return """
WITH e AS (SELECT user_id, event_id, event_type, value, epoch(ts) AS es
           FROM events),
h AS (SELECT *,
             lead(es) OVER (PARTITION BY user_id ORDER BY es, event_id)
               AS valid_to
      FROM e)
SELECT user_id, event_id, event_type, value,
       es AS valid_from, valid_to, valid_to IS NULL AS is_current
FROM h WHERE event_type <> 'error'
"""


# --- joinability-graph centrality -------------------------------------------


def table_pagerank(
    spark: SparkSession,
    sf_dir: str,
    tables: dict[str, list[str]],
    threshold: float = 0.3,
    rounds: int = 6,
    damping: float = 0.85,
) -> DataFrame:
    """Lake-catalog centrality: PageRank over the table-joinability
    graph ("which tables are the hubs everything joins to?"). Edges
    come from the one-pass OPH all-pairs sketch join (K3 — cost is
    O(columns² × buckets) on signatures, never data-sized): tables a,b
    are adjacent iff ANY column pair estimates Jaccard ≥ threshold;
    edges are undirected/unweighted, dangling mass is dropped (the
    common simplification — ranks need not sum to 1).

    Determinism across engines is engineered the same way as the
    profiler: each round's neighbor sum runs over INTEGER-scaled
    contributions (floor(r/deg × 1e12 + 0.5) — the HALF_UP-everywhere
    quantizer), so the float aggregation order can never show. The
    expensive part (signatures) runs once in Spark; the rounds
    themselves run driver-side over the schema-bounded edge set
    (≤ |tables|² pairs) with the same IEEE arithmetic.

    Output: (table_name, pagerank, rank).
    """
    from tabsketchfm_spark.operators.minhash import all_pairs_joinability

    names = sorted(tables)
    n = len(names)
    # ranked=False: the graph only needs the edge SET — skip the
    # global-rank pass (sampling job + offsets pass) it would discard
    sig_caches: list = []
    pairs = all_pairs_joinability(
        spark, sf_dir, tables, threshold=threshold, ranked=False,
        caches=sig_caches,
    )
    edges = (
        pairs.where(F.col("table_a") != F.col("table_b"))
        .select("table_a", "table_b")
        .distinct()
    )
    # The edge SET is bounded by the lake SCHEMA (≤ |tables|² pairs,
    # 8 tables here), never by data size — the same bounded-collect
    # class as the IVF N_CELLS decision rows. Collect it once and run
    # the `rounds` iterations driver-side: the old per-round Spark
    # join+agg over a |tables|-row frame paid ~6 rounds × several
    # stages of pure scheduling/codegen latency for nine rows of math
    # (measured 8.7s warm → ~3.5s; OPTIMIZATION_r12.md). Every
    # arithmetic step below mirrors the former Spark expressions
    # operation-for-operation in IEEE doubles (r/deg, ×1e12, +0.5,
    # floor → int64 sum; base + damping × (m/1e12)), so the emitted
    # values — and the DuckDB oracle's replay of the same quantized
    # rounds — stay bit-identical.
    import math

    pair_rows = edges.collect()  # ≤ |tables|²/2 rows, schema-bounded
    for c in sig_caches:
        # the returned plan no longer references the signature frame —
        # release it or every BUILD leaks a materialized cache entry.
        # blocking=True: the zero-leak contract is checked immediately
        # after build (round-12 driver flake — async release left the
        # block visible to the storage-info probe)
        c.unpersist(blocking=True)
    adj: dict[str, list[str]] = {}
    for row in pair_rows:
        a, b = row["table_a"], row["table_b"]
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    base = (1.0 - damping) / n
    ranks_py = {t: 1.0 / n for t in names}
    for _ in range(rounds):
        m: dict[str, int] = {t: 0 for t in names}
        for src, nbrs in adj.items():
            deg = float(len(nbrs))
            c = int(math.floor(ranks_py[src] / deg * 1e12 + 0.5))
            for dst in nbrs:
                m[dst] += c
        ranks_py = {t: base + damping * (m[t] / 1e12) for t in names}
    # the ranks are already on the driver: number them there (rank desc,
    # then name — a total order), no Spark ranking pass
    order = sorted(names, key=lambda t: (-ranks_py[t], t))
    return spark.createDataFrame(
        [(t, ranks_py[t], i) for i, t in enumerate(order, 1)],
        "table_name string, pagerank double, rank int",
    )


def table_pagerank_oracle_sql(
    tables: dict[str, list[str]],
    threshold: float = 0.3,
    rounds: int = 6,
    damping: float = 0.85,
) -> str:
    from tabsketchfm_spark.operators.minhash import all_pairs_joinability_oracle_sql

    names = sorted(tables)
    n = len(names)
    pairs_sql = all_pairs_joinability_oracle_sql(
        tables, threshold=threshold, ranked=False
    )
    nodes = " UNION ALL ".join(f"SELECT '{t}' AS key" for t in names)
    # %.17e round-trips float64 exactly and is always a valid DOUBLE
    # literal (repr() switches to exponent form below 1e-4, which would
    # break the naive repr+'e0' concatenation)
    d = f"cast({damping:.17e} AS DOUBLE)"
    base = f"cast({(1.0 - damping) / n:.17e} AS DOUBLE)"
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs at every
    # reference site, so the 6 rank rounds would re-run the whole OPH
    # sketch pipeline each time (measured 106.7s -> ~1s at sf0.01)
    ctes = [
        f"pairs AS MATERIALIZED ({pairs_sql})",
        """e0 AS (SELECT DISTINCT table_a, table_b FROM pairs
           WHERE table_a <> table_b)""",
        """edges AS MATERIALIZED (SELECT table_a AS src, table_b AS dst FROM e0
            UNION ALL SELECT table_b, table_a FROM e0)""",
        "deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY 1)",
        f"nodes AS ({nodes})",
        f"r0 AS (SELECT key, cast({1.0 / n:.17e} AS DOUBLE) AS r FROM nodes)",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""r{k} AS (
  SELECT n.key, {base} + {d} * (coalesce(s.m, 0) / cast(1e12 AS DOUBLE)) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS key,
           sum(CAST(floor(p.r / CAST(d.deg AS DOUBLE) * 1e12 + 0.5) AS BIGINT)) AS m
    FROM edges e JOIN r{k - 1} p ON e.src = p.key JOIN deg d ON e.src = d.src
    GROUP BY 1) s ON n.key = s.key)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT key AS table_name, r AS pagerank,
       CAST(row_number() OVER (ORDER BY r DESC, key) AS INTEGER) AS rank
FROM r{rounds}
"""
    )


# --- zone-map data-skipping audit -------------------------------------------


def zone_map_audit(
    spark: SparkSession,
    sf_dir: str,
    n_zones: int = 64,
    lo: int = 100,
    hi: int = 500,
) -> DataFrame:
    """How much scan does each LAYOUT let a reader skip? The 100 TB
    question behind every OPTIMIZE/ZORDER decision: model writing
    `orders` into ``n_zones`` equal files under three layouts —

    - ``hash``:   zone = h64(o_orderkey) % N (unclustered append scatter),
    - ``sorted``: zone = rank-range by (o_custkey, o_orderkey),
    - ``zorder``: zone = rank-range by the Morton key of
      (o_custkey, o_orderkey) (the zorder_key operator),

    record each zone's (min, max) of the predicate column (exactly the
    parquet/Iceberg zone-map footer), and count the zones a reader of
    ``o_custkey BETWEEN lo AND hi`` skips. Ranks use the two-phase
    global_rank (no single-partition window); a layout rewrite is a
    sort anyway, so the audit costs what the rewrite costs. Output:
    (layout, zones_total, zones_pruned, frac_pruned, rows_scanned).
    """
    from tabsketchfm_spark.functions.hashing import h64_sql
    from tabsketchfm_spark.functions.ranking import global_rank

    # t feeds FOUR subtrees (count, sorted rank, zorder input, hash) and
    # zk's 64-term Morton projection feeds global_rank's sampling pass —
    # persist both or the range-sampling jobs re-run them (CLAUDE.md
    # repartitionByRange lesson)
    t = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey")
        .persist()
    )
    tot = t.agg(F.count(F.lit(1)).alias("_n"))

    caches: list = [t]

    def rank_zone(df: DataFrame, order_cols) -> DataFrame:
        r = global_rank(df, order_cols, caches=caches)
        return r.crossJoin(F.broadcast(tot)).select(
            "o_custkey",
            F.expr(f"(CAST(rank - 1 AS BIGINT) * {n_zones}) div _n").alias("zone"),
        )

    srt = rank_zone(t, [F.asc("o_custkey"), F.asc("o_orderkey")])
    zk = zorder_key(
        t, "o_custkey", "o_orderkey", ["o_orderkey", "o_custkey"]
    ).persist()
    zzs = rank_zone(zk, [F.asc("zkey"), F.asc("o_orderkey")]).select(
        "o_custkey", "zone"
    )
    hsh = t.select(
        "o_custkey",
        (F.expr(h64_sql("o_orderkey", "spark")) % n_zones).alias("zone"),
    )
    tagged = (
        srt.select(F.lit("sorted").alias("layout"), "o_custkey", "zone")
        .unionByName(zzs.select(F.lit("zorder").alias("layout"), "o_custkey", "zone"))
        .unionByName(hsh.select(F.lit("hash").alias("layout"), "o_custkey", "zone"))
    )
    zones = tagged.groupBy("layout", "zone").agg(
        F.min("o_custkey").alias("zmin"),
        F.max("o_custkey").alias("zmax"),
        F.count(F.lit(1)).alias("cnt"),
    )
    pruned = (F.col("zmax") < lo) | (F.col("zmin") > hi)
    rows = (
        zones.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("int").alias("zones_total"),
            F.sum(F.when(pruned, 1).otherwise(0)).cast("int").alias("zones_pruned"),
            F.round(
                F.sum(F.when(pruned, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("frac_pruned"),
            F.sum(F.when(~pruned, F.col("cnt")).otherwise(0)).alias("rows_scanned"),
        )
        .collect()  # tiny (one row per layout); materializing lets the caches go
    )
    for c in caches + [zk]:  # incl. both global_rank range-partition caches
        c.unpersist()
    return spark.createDataFrame(
        rows,
        "layout string, zones_total int, zones_pruned int, "
        "frac_pruned double, rows_scanned bigint",
    )


def zone_map_audit_oracle_sql(
    n_zones: int = 64, lo: int = 100, hi: int = 500
) -> str:
    from tabsketchfm_spark.functions.hashing import h64_sql

    zsql = zorder_key_oracle_sql(
        "(SELECT o_custkey, o_orderkey FROM orders)",
        "o_custkey",
        "o_orderkey",
        ["o_orderkey", "o_custkey"],
    )
    h = h64_sql("o_orderkey", "duckdb")
    return f"""
WITH t AS (SELECT o_custkey, o_orderkey FROM orders),
tot AS (SELECT count(*) AS n FROM t),
srt AS (SELECT o_custkey,
               (CAST(row_number() OVER (ORDER BY o_custkey, o_orderkey) - 1 AS BIGINT)
                * {n_zones}) // n AS zone
        FROM t, tot),
zk AS ({zsql}),
zzs AS (SELECT o_custkey,
               (CAST(row_number() OVER (ORDER BY zkey, o_orderkey) - 1 AS BIGINT)
                * {n_zones}) // n AS zone
        FROM zk, tot),
hsh AS (SELECT o_custkey, {h} % {n_zones} AS zone FROM t),
tagged AS (
  SELECT 'sorted' AS layout, o_custkey, zone FROM srt
  UNION ALL SELECT 'zorder', o_custkey, zone FROM zzs
  UNION ALL SELECT 'hash', o_custkey, zone FROM hsh),
zones AS (SELECT layout, zone, min(o_custkey) AS zmin, max(o_custkey) AS zmax,
                 count(*) AS cnt
          FROM tagged GROUP BY 1, 2)
SELECT layout,
       CAST(count(*) AS INTEGER) AS zones_total,
       CAST(sum(CASE WHEN zmax < {lo} OR zmin > {hi} THEN 1 ELSE 0 END) AS INTEGER)
         AS zones_pruned,
       round(sum(CASE WHEN zmax < {lo} OR zmin > {hi} THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS frac_pruned,
       CAST(sum(CASE WHEN NOT (zmax < {lo} OR zmin > {hi}) THEN cnt ELSE 0 END)
            AS BIGINT) AS rows_scanned
FROM zones GROUP BY 1
"""


def table_communities(
    spark: SparkSession,
    sf_dir: str,
    tables: dict[str, list[str]],
    threshold: float = 0.3,
) -> DataFrame:
    """Catalog domain partitioning: connected components over the same
    OPH joinability graph PageRank ranks — "which tables form one
    joinable subject area?". Table names map to their sorted-order ids
    (so the numeric smallest-id cluster label IS the lexicographically
    smallest member name), then the dedup clustering's star-contraction
    operator (operators/dedup.connected_components_star) runs
    unchanged.
    Output: (table_name, community, community_size)."""
    from pyspark.sql import Window

    from tabsketchfm_spark.operators.dedup import connected_components_star
    from tabsketchfm_spark.operators.minhash import all_pairs_joinability

    names = sorted(tables)
    sig_caches: list = []
    pairs = all_pairs_joinability(
        spark, sf_dir, tables, threshold=threshold, ranked=False,
        caches=sig_caches,
    )
    e = (
        pairs.where(F.col("table_a") != F.col("table_b"))
        .select("table_a", "table_b")
        .distinct()
    )
    m = F.create_map(
        *[x for i, t in enumerate(names) for x in (F.lit(t), F.lit(i))]
    )
    eid = e.select(
        m[F.col("table_a")].cast("bigint").alias("id_a"),
        m[F.col("table_b")].cast("bigint").alias("id_b"),
    )
    nodes = spark.createDataFrame([(i,) for i in range(len(names))], "doc_id bigint")
    # the edge list is distinct on (table_a, table_b) and the name→id
    # map is injective: skip star's input-dedup shuffle
    cc = connected_components_star(eid, nodes, dedupe_input=False)
    for c in sig_caches:
        # connected_components_star localCheckpointed the pair frame as its
        # first (eager) step, so the returned plan no longer references
        # the OPH signature persist — release it or every BUILD leaks a
        # materialized cache entry (round-12 ADVICE; same class as the
        # pagerank fix above)
        c.unpersist(blocking=True)
    arr = F.array(*[F.lit(t) for t in names])
    out = cc.select(
        F.element_at(arr, F.col("doc_id").cast("int") + 1).alias("table_name"),
        F.element_at(arr, F.col("cluster_id").cast("int") + 1).alias("community"),
    )
    w = Window.partitionBy("community")
    return out.withColumn("community_size", F.count(F.lit(1)).over(w))


def table_communities_oracle_sql(
    tables: dict[str, list[str]], threshold: float = 0.3
) -> str:
    from tabsketchfm_spark.operators.minhash import all_pairs_joinability_oracle_sql

    names = sorted(tables)
    pairs_sql = all_pairs_joinability_oracle_sql(
        tables, threshold=threshold, ranked=False
    )
    nodes = " UNION ALL ".join(f"SELECT '{t}' AS t" for t in names)
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({pairs_sql}),
e0 AS (SELECT DISTINCT table_a, table_b FROM pairs WHERE table_a <> table_b),
nodes AS ({nodes}),
edges AS (
  SELECT table_a AS a, table_b AS b FROM e0
  UNION SELECT table_b, table_a FROM e0
  UNION SELECT t, t FROM nodes),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
cl AS (SELECT a AS table_name, min(b) AS community FROM reach GROUP BY a)
SELECT table_name, community,
       CAST(count(*) OVER (PARTITION BY community) AS BIGINT) AS community_size
FROM cl
"""


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Two-version table diff — the lake audit op behind every "what
    changed since yesterday" question (and the verification step after
    any rewrite/compaction/migration): full-outer join on the key,
    rows classified added / removed / changed by NULL-SAFE column
    comparison (eqNullSafe == DuckDB's IS NOT DISTINCT FROM — no
    row-hash, so the gate is exact even across engines' string
    renderings). Unchanged rows are dropped BEFORE the output, so the
    result is bounded by the change volume, not the table size; the
    only shuffle is the key join, which AQE skew-handles.
    Output: (*key_cols, change)."""
    o = old.select(
        *key_cols,
        *[F.col(c).alias(f"o_{c}") for c in compare_cols],
        F.lit(1).alias("in_o"),
    )
    nw = new.select(
        *key_cols,
        *[F.col(c).alias(f"n_{c}") for c in compare_cols],
        F.lit(1).alias("in_n"),
    )
    j = o.join(nw, list(key_cols), "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"o_{c}").eqNullSafe(F.col(f"n_{c}"))
    change = (
        F.when(F.col("in_o").isNull(), "added")
        .when(F.col("in_n").isNull(), "removed")
        .when(~same, "changed")
    )
    return j.select(*key_cols, change.alias("change")).where(
        F.col("change").isNotNull()
    )


def _documents_v2_sql() -> str:
    """The ORACLE's definition of documents' deterministic 'next
    version': drop doc_id%10==0, retag source for %10==1, append
    cloned rows at doc_id+1000000 for %10==2. The Spark twin builds
    the same rows in one pass inside snapshot_diff_documents."""
    return """
SELECT doc_id, text, lang,
       CASE WHEN doc_id % 10 = 1 THEN source || '_x' ELSE source END AS source,
       n_chars
FROM documents WHERE doc_id % 10 <> 0
UNION ALL
SELECT doc_id + 1000000, text, lang, source, n_chars
FROM documents WHERE doc_id % 10 = 2
"""


def snapshot_diff_documents(spark, sf_dir: str) -> DataFrame:
    """Registered exemplar: diff documents against its deterministic
    next version; returns per-change-type counts plus the key span
    (bounded, order-free). v2 is built in ONE pass (each source row
    emits 0-2 variant rows via explode — no temp view to collide with
    the session's registered `documents`, and no second scan for the
    clone branch); total = 2 scans, same as diffing two real
    versions. The +1000000 clone offset assumes max(doc_id) stays
    below it — true at every gate SF (dense ids, ≤ 50k docs at
    sf0.1); a real deployment derives the offset from its key space."""
    from tabsketchfm_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    mod = F.col("doc_id") % 10
    keep = F.struct(
        F.col("doc_id"),
        F.col("text"),
        F.col("lang"),
        F.when(mod == 1, F.concat(F.col("source"), F.lit("_x")))
        .otherwise(F.col("source"))
        .alias("source"),
        F.col("n_chars"),
    )
    clone = F.struct(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.col("text"),
        F.col("lang"),
        F.col("source"),
        F.col("n_chars"),
    )
    v2 = (
        docs.select(
            F.explode(
                F.array(
                    F.when(mod != 0, keep), F.when(mod == 2, clone)
                )
            ).alias("r")
        )
        .where(F.col("r").isNotNull())
        .select("r.*")
    )
    d = snapshot_diff(docs, v2, ["doc_id"], ["text", "lang", "source", "n_chars"])
    return d.groupBy("change").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("doc_id").alias("min_key"),
        F.max("doc_id").alias("max_key"),
    )


def snapshot_diff_documents_oracle_sql() -> str:
    return f"""
WITH v2 AS ({_documents_v2_sql()}),
j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN NOT (o.text IS NOT DISTINCT FROM n.text
                            AND o.lang IS NOT DISTINCT FROM n.lang
                            AND o.source IS NOT DISTINCT FROM n.source
                            AND o.n_chars IS NOT DISTINCT FROM n.n_chars)
                    THEN 'changed' END AS change
      FROM documents o FULL OUTER JOIN v2 n ON o.doc_id = n.doc_id)
SELECT change, count(*) AS n_rows, min(doc_id) AS min_key, max(doc_id) AS max_key
FROM j WHERE change IS NOT NULL GROUP BY change
"""

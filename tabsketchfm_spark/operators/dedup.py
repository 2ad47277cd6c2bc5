"""Deduplication family over the documents table (north-star ops).

Generalizes the reference's content-snapshot dedup primitive (SK3,
reference data_prep.py:319-337) to the four standard LLM-corpus dedup
strategies:

- exact dedup          — hash-groupBy on a 60-bit content key
- n-gram Jaccard       — exact shingle-set similarity (the oracle op)
- MinHash + LSH        — banded signatures, bucket join, verify
- SimHash              — 32-bit sign-of-sums fingerprint + Hamming ball

All are pure column-expression SQL (functions/hashing.py family) —
no UDFs, every stage reproducible in the DuckDB oracle.

Scale notes per operator are inline; the common theme: candidate
generation is the part that must not be O(n²) at 100 TB — LSH banding
and SimHash bucketing both reduce it to an equi-join on a bucket key,
which Spark executes as a shuffle hash join with AQE skew handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tabsketchfm_spark.functions.hashing import (
    MINHASH_PRIME,
    h32_sql,
    h64_sql,
    minhash_agg_sql,
    perms_cte_duckdb,
)

# ---------------------------------------------------------------------------
# exact dedup


def exact_dedup(df: DataFrame, id_col: str, content_cols: list[str]) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content, keeping
    the smallest id as the canonical representative.

    Scale: a single shuffle on the 60-bit content key; map-side
    partial aggregation collapses duplicates before the exchange.
    Output: (content_key, keep_id, n_dups).
    """
    content = F.concat_ws("\x01", *[F.col(c).cast("string") for c in content_cols])
    key = F.expr(h64_sql("content", "spark"))
    return (
        df.select(F.col(id_col).alias("id"), content.alias("content"))
        .select("id", key.alias("content_key"))
        .groupBy("content_key")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def exact_dedup_oracle_sql(table: str, id_col: str, content_cols: list[str]) -> str:
    content = ", ".join(f"CAST({c} AS VARCHAR)" for c in content_cols)
    key = h64_sql("content", "duckdb")
    return f"""
WITH c AS (SELECT {id_col} AS id, concat_ws(chr(1), {content}) AS content FROM {table})
SELECT {key} AS content_key, min(id) AS keep_id, count(*) AS n_dups
FROM c GROUP BY 1
"""


# ---------------------------------------------------------------------------
# word n-gram shingles (shared by Jaccard + MinHash-LSH)


def _shingles(
    df: DataFrame, id_col: str, text_col: str, n: int, dedupe: bool = True
) -> DataFrame:
    """(id, shingle) — word n-grams per document.

    ``dedupe=False`` skips the distinct shuffle for consumers whose
    aggregate is duplicate-insensitive (MIN in the MinHash path).
    """
    # tokens projected once; shingles by direct element indexing —
    # slice() copies an array per shingle and re-evaluates split()
    # (measured 2.5× slower)
    elems = ", ".join(f"tk[i+{j}]" for j in range(n))
    sh = (
        f"CASE WHEN size(tk) >= {n} THEN "
        f"transform(sequence(0, size(tk) - {n}), i -> concat_ws(' ', {elems})) "
        f"ELSE array() END"
    )
    from tabsketchfm_spark.sources.tables import spread

    # spread: tokenize + shingle explode is the heaviest per-row stage
    # in every dedup pipeline — don't let a one-row-group source
    # serialize it (no-op when the lake yields enough splits).
    # project-before-spread keeps the subtree Repartition(Project(…)):
    # pruned by construction, never matched by a full-width table cache
    tk = spread(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"),
        F.expr(f"filter(split({text_col}, '\\\\s+'), t -> t <> '')").alias("tk"),
    )
    out = tk.select("id", F.explode(F.expr(sh)).alias("shingle"))
    return out.distinct() if dedupe else out


def _shingles_cte_duckdb(table: str, id_col: str, text_col: str, n: int) -> str:
    return f"""
toks AS (SELECT {id_col} AS id,
                list_filter(string_split_regex({text_col}, '\\s+'), t -> t <> '') AS tk
         FROM {table}),
sh AS (SELECT DISTINCT id, array_to_string(tk[i:i+{n - 1}], ' ') AS shingle
       FROM toks, unnest(generate_series(1, len(tk) - {n} + 1)) t(i))"""


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = 1000,
) -> DataFrame:
    """Exact near-dup pairs by word-n-gram Jaccard >= threshold.

    Scale: the shingle self-join is the candidate generator. Its skew
    killer is boilerplate shingles shared by a large doc fraction —
    one shingle with document frequency d contributes d² join rows —
    so shingles with DF > df_cap are pruned BEFORE the join and the
    Jaccard is over the pruned shingle space (stop-shingle removal;
    the DuckDB oracle mirrors the prune, so the gate stays exact at
    any cap). At testdata scale nothing prunes (max DF 25 at sf0.1 vs
    the 1000 default); at 100 TB the cap bounds the largest join
    bucket. Beyond ~10^7 docs use minhash_lsh_pairs (same output
    contract) and keep this as the verify stage.
    Output: (id_a, id_b, n_a, n_b, n_inter, jaccard).
    """
    sh = _shingles(df, id_col, text_col, n).cache()
    if df_cap is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= df_cap)
            .select("shingle")
        )
        # cache the PRUNED frame too: it feeds three consumers (the
        # per-doc counts and both sides of the pair join) — uncached,
        # the prune join re-runs per consumer
        sh = sh.join(rare, "shingle").select("id", "shingle").cache()
    cnt = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(cnt.withColumnsRenamed({"id": "id_a", "n": "n_a"}), "id_a")
        .join(cnt.withColumnsRenamed({"id": "id_b", "n": "n_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            "n_inter",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out


def ngram_jaccard_oracle_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = 1000,
) -> str:
    prune = (
        f"""rare AS (SELECT shingle FROM sh GROUP BY shingle
         HAVING count(*) <= {df_cap}),
shk AS (SELECT sh.id, sh.shingle FROM sh JOIN rare USING (shingle)),"""
        if df_cap is not None
        else "shk AS (SELECT id, shingle FROM sh),"
    )
    return f"""
WITH {_shingles_cte_duckdb(table, id_col, text_col, n)},
{prune}
cnt AS (SELECT id, count(*) AS n FROM shk GROUP BY 1),
inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
          FROM shk a JOIN shk b USING (shingle)
          WHERE a.id < b.id GROUP BY 1, 2)
SELECT id_a, id_b, ca.n AS n_a, cb.n AS n_b, n_inter,
       n_inter / CAST(ca.n + cb.n - n_inter AS DOUBLE) AS jaccard
FROM inter JOIN cnt ca ON id_a = ca.id JOIN cnt cb ON id_b = cb.id
WHERE n_inter / CAST(ca.n + cb.n - n_inter AS DOUBLE) >= {threshold}
"""


def dedup_pipeline(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """The composite corpus-dedup pass: exact dedup, then near-dup
    removal among the exact survivors (drop every doc that has a
    lower-id neighbor with shingle-Jaccard >= threshold — the greedy
    deterministic keep-first policy). One labeled row per document.

    Output: (id, status) with status in {kept, exact_dup, near_dup}.
    At scale the near-dup pair source swaps to minhash_lsh_pairs
    (same pair contract); the labeling stages are unchanged.
    """
    content = F.nullif(F.col(text_col).cast("string"), F.lit(""))
    key = F.expr(h64_sql("content", "spark"))
    keyed = df.select(F.col(id_col).alias("id"), content.alias("content")).select(
        "id", key.alias("ck")
    )
    keep = keyed.groupBy("ck").agg(F.min("id").alias("keep_id"))
    labeled = keyed.join(keep, "ck").select(
        "id", (F.col("id") == F.col("keep_id")).alias("is_exact_keeper")
    )
    survivors = df.join(
        labeled.where("is_exact_keeper").select("id"),
        df[id_col] == F.col("id"),
        "left_semi",
    )
    pairs = ngram_jaccard_pairs(survivors, id_col, text_col, n, threshold)
    near_dropped = pairs.select(F.col("id_b").alias("id")).distinct()
    return (
        labeled.join(near_dropped.withColumn("nd", F.lit(1)), "id", "left")
        .select(
            "id",
            F.when(~F.col("is_exact_keeper"), "exact_dup")
            .when(F.col("nd") == 1, "near_dup")
            .otherwise("kept")
            .alias("status"),
        )
    )


def dedup_pipeline_oracle_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> str:
    key = h64_sql("content", "duckdb")
    return f"""
WITH keyed AS (SELECT {id_col} AS id, {key} AS ck
               FROM (SELECT {id_col}, nullif(CAST({text_col} AS VARCHAR), '') AS content
                     FROM {table}) t),
keep AS (SELECT ck, min(id) AS keep_id FROM keyed GROUP BY 1),
labeled AS (SELECT keyed.id, keyed.id = keep.keep_id AS is_exact_keeper
            FROM keyed JOIN keep USING (ck)),
surv AS (SELECT d.* FROM {table} d JOIN labeled l ON d.{id_col} = l.id
         WHERE l.is_exact_keeper),
toks AS (SELECT {id_col} AS id,
                list_filter(string_split_regex({text_col}, '\\s+'), t -> t <> '') AS tk
         FROM surv),
sh AS (SELECT DISTINCT id, array_to_string(tk[i:i+{n - 1}], ' ') AS shingle
       FROM toks, unnest(generate_series(1, len(tk) - {n} + 1)) t(i)),
cnt AS (SELECT id, count(*) AS nn FROM sh GROUP BY 1),
inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS ni
          FROM sh a JOIN sh b USING (shingle) WHERE a.id < b.id GROUP BY 1, 2),
nd AS (SELECT DISTINCT id_b AS id FROM inter
       JOIN cnt ca ON id_a = ca.id JOIN cnt cb ON id_b = cb.id
       WHERE ni / CAST(ca.nn + cb.nn - ni AS DOUBLE) >= {threshold})
SELECT l.id,
       CASE WHEN NOT l.is_exact_keeper THEN 'exact_dup'
            WHEN nd.id IS NOT NULL THEN 'near_dup'
            ELSE 'kept' END AS status
FROM labeled l LEFT JOIN nd ON l.id = nd.id
"""


# ---------------------------------------------------------------------------
# MinHash + LSH


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 100,
    bands: int = 20,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup candidates via banded MinHash LSH, verified by the
    signature-level Jaccard estimate.

    Pipeline: shingle → h32 → 100-slot signature per doc (wide MIN
    aggregate, map-side combined) → ``bands`` band keys per doc (md5 of
    the band's slots) → self-join on (band, key) = the LSH bucket join
    → dedup pairs → estimate = fraction of agreeing slots → filter.

    Scale: the only joins are equi-joins on band keys (bucket sizes
    are small by construction) and on doc id against the tiny signature
    relation. Nothing is O(n²). ``bucket_cap`` bounds the one residual
    quadratic risk — a hot bucket of boilerplate near-identicals —
    by hash re-splitting oversized buckets (operators/lsh.py; the
    oracle mirrors the split bit-exactly).
    Output: (id_a, id_b, est_jaccard).
    """
    sh = _shingles(df, id_col, text_col, n, dedupe=False)
    h = F.expr(h32_sql("shingle", "spark"))
    hashed = sh.select("id", h.alias("h"))
    # one row per doc, 100 slots; persisted — consumed 3× (banding + both
    # sides of the estimate join); without it the whole shingle+hash
    # pipeline re-executes per consumer
    sigs = (
        hashed.groupBy("id")
        .agg(*[F.expr(e) for e in minhash_agg_sql("h", num_perm)])
        .persist()
    )

    banded = sigs.selectExpr(
        "id", f"inline(array({_band_structs_sql(num_perm, bands)}))"
    )

    join_keys = ["band", "bkey"]
    if bucket_cap is not None:
        from tabsketchfm_spark.operators.lsh import cap_bucket_split

        banded = cap_bucket_split(banded, ["band", "bkey"], bucket_cap)
        join_keys = ["band", "bkey", "sub"]
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), join_keys)
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )

    sa = sigs.selectExpr(
        "id AS id_a", *[f"mh{i} AS a{i}" for i in range(num_perm)]
    )
    sb = sigs.selectExpr(
        "id AS id_b", *[f"mh{i} AS b{i}" for i in range(num_perm)]
    )
    est = F.expr(_slot_est_sql(num_perm)).alias("est_jaccard")
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", est)
        .where(F.col("est_jaccard") >= threshold)
    )


def minhash_lsh_oracle_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 100,
    bands: int = 20,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
) -> str:
    rows = num_perm // bands
    h = h32_sql("shingle", "duckdb")
    if bucket_cap is None:
        capped = "SELECT id, band, bkey, 0 AS sub FROM banded"
    else:
        from tabsketchfm_spark.operators.lsh import cap_split_sql_duckdb

        capped = cap_split_sql_duckdb("banded", ["band", "bkey"], bucket_cap)
    return f"""
WITH {_shingles_cte_duckdb(table, id_col, text_col, n)},
perms AS ({perms_cte_duckdb(num_perm)}),
sig AS (SELECT id, i, min((a * hv + b) % {MINHASH_PRIME}) AS s
        FROM (SELECT id, {h} AS hv FROM sh) hsh, perms GROUP BY id, i),
banded AS (SELECT id, CAST(i // {rows} AS INTEGER) AS band,
                  md5(string_agg(CAST(s AS VARCHAR), ',' ORDER BY i)) AS bkey
           FROM sig GROUP BY id, i // {rows}),
capped AS ({capped}),
cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
         FROM capped x JOIN capped y USING (band, bkey, sub) WHERE x.id < y.id),
est AS (SELECT id_a, id_b,
               sum(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) / CAST({num_perm} AS DOUBLE)
                 AS est_jaccard
        FROM cand JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b AND sb.i = sa.i
        GROUP BY id_a, id_b)
SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= {threshold}
"""


def _cc_closure_sql(pairs_sql: str, table: str, id_col: str) -> str:
    """ONE copy of the DuckDB transitive-closure scaffold (round-7
    SQL-drift rule): recursive reach over the bidirected pair edges +
    self-edges, min-reachable-id labels, cluster-size window — shared
    by every CC oracle regardless of which pair relation feeds it.
    Ends in a ``labels`` CTE; callers append their tail."""
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({pairs_sql}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
  UNION SELECT {id_col}, {id_col} FROM {table}),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
clusters AS (SELECT a AS {id_col}, min(b) AS cluster_id FROM reach GROUP BY a),
labels AS (SELECT {id_col}, cluster_id,
                  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
           FROM clusters)"""


def minhash_lsh_clusters_oracle_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 100,
    bands: int = 20,
    threshold: float = 0.5,
    bounded_mod: int | None = 13,
) -> str:
    """Connected components over the MINHASH-LSH pair relation — the
    gate for the streaming crawl-clusters loop: the LSH relation is a
    function of the two docs' signatures alone (bands match + slot
    estimate >= threshold), so it is corpus-independent and the
    incremental/streaming composition equals this one-shot closure."""
    from tabsketchfm_spark.functions.gates import bounded_tail_sql

    body = _cc_closure_sql(
        minhash_lsh_oracle_sql(
            table, id_col, text_col, n, num_perm, bands, threshold
        ),
        table,
        id_col,
    )
    if bounded_mod is None:
        return body + "\nSELECT * FROM labels\n"
    return body + bounded_tail_sql(
        "labels",
        id_col,
        {"cid": "cluster_id", "size": "cluster_size"},
        bounded_mod,
    )


def dedup_incremental_lsh(
    delta: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 100,
    bands: int = 20,
    threshold: float = 0.5,
    caches: list | None = None,
) -> DataFrame:
    """Delta-vs-corpus near-dup — the daily-crawl shape: dedup a NEW
    batch against the existing lake WITHOUT re-pairing the corpus with
    itself. Only |delta| signatures are built fresh on the hot path (in
    production the corpus side reads the persisted sketch store, S7/S8
    — here both sides share the same signature pipeline so the query
    is self-contained); candidates are exclusively CROSS pairs from
    the banded bucket equi-join, so the work scales with the delta,
    not the corpus pair count.

    Same signature scheme as minhash_lsh_pairs (shingle → h32 →
    num_perm-slot MIN signature → band keys), same slot-agreement
    verification. Output: (delta_id, corpus_id, est_jaccard)."""
    sig_d = _lsh_sigs(delta, id_col, text_col, n, num_perm, caches)
    sig_c = _lsh_sigs(corpus, id_col, text_col, n, num_perm, caches)
    return _lsh_cross_pairs(sig_d, sig_c, num_perm, bands, threshold)


_SIG_STORE_FORMAT = "minhash-shingle-v1"


def _read_signature_store(
    spark,
    path: str,
    n: int,
    num_perm: int,
    caches: list | None = None,
    tokenizer_hash: str | None = None,
) -> DataFrame:
    """Schema-from-manifest read of a signature store, PERSISTED (the
    store side feeds two subtrees of _lsh_cross_pairs — band keys and
    the slot-agreement join — and the store grows every commit).
    The manifest makes two failure modes LOUD instead of silent:
    parameter mismatch (a store built with different shingle/perm
    settings would produce meaningless estimates — the save_merges
    hash-manifest rationale) and the empty-corpus cold start (explicit
    schema → an empty store reads as an empty frame, no inference
    error). Recursive lookup covers the flat base build plus the
    commit_<uuid>/ subdirectories; `_`-prefixed files are ignored by
    the parquet reader, so the manifest rides inside the store dir."""
    import json

    from pyspark.sql.types import StructType

    from tabsketchfm_spark.sources.store_util import read_manifest

    m = read_manifest(path)
    if m["format"] != _SIG_STORE_FORMAT or m["n"] != n or m["num_perm"] != num_perm:
        raise IOError(
            f"signature store at {path} was built as {m['format']} with "
            f"n={m['n']}, num_perm={m['num_perm']}; caller requested "
            f"n={n}, num_perm={num_perm}"
        )
    if m.get("tokenizer_hash") != tokenizer_hash:
        # SYMMETRIC tokenizer contract (the ingest_ts rule's sibling,
        # round-12): signatures under different tokenization schemes
        # are incomparable — a word-n-gram reader over a reshingled
        # (BPE-subword) store would silently produce meaningless
        # Jaccard estimates, and vice versa. None = the word-n-gram
        # scheme every legacy store uses.
        raise IOError(
            f"signature store at {path} carries tokenizer_hash="
            f"{m.get('tokenizer_hash')!r}; caller expected "
            f"{tokenizer_hash!r} — signatures under different "
            "tokenization schemes are incomparable (re-shingle the "
            "store or pass the matching merges artifact)"
        )
    schema = StructType.fromJson(json.loads(m["schema"]))
    sig_c = (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(_sig_data_root(path, m))
        .persist()
    )
    if caches is not None:
        caches.append(sig_c)
    return sig_c


def _sig_data_root(path: str, manifest: dict) -> str:
    """The directory reads/commits target: the manifest's generation
    subdir when present (post-compaction layout), else the store root
    (legacy flat layout — build + commits at top level). The manifest
    file itself is `_`-prefixed, ignored by the parquet reader."""
    gen = manifest.get("data_dir")
    return f"{path}/{gen}" if gen else path


def _store_has_ingest_ts(manifest: dict) -> bool:
    """Whether the store's recorded schema carries the ingest_ts
    column (timestamp-TTL stores; legacy stores are id-TTL only)."""
    import json

    return any(
        f["name"] == "ingest_ts"
        for f in json.loads(manifest["schema"])["fields"]
    )


def _check_ingest_ts_contract(manifest: dict, ingest_ts: int | None, op: str) -> bool:
    """SYMMETRIC loud contract (the round-7 rule) between a store's
    schema and a writer's ingest_ts argument: a ts written into a
    legacy store would silently vanish on read (schema-from-manifest
    drops it), and a ts-less commit into a ts store would read back
    NULL and escape every TTL horizon. Returns has_ts for the caller."""
    # this contract check runs BEFORE _read_signature_store's param
    # validation in the append/ingest paths — validate the store TYPE
    # here too, or a cluster/ivfpq manifest (no 'schema' key) raises a
    # raw KeyError instead of the loud wrong-store-type error
    if manifest.get("format") != _SIG_STORE_FORMAT or "schema" not in manifest:
        raise IOError(
            f"{op}: store manifest has format "
            f"{manifest.get('format')!r} — not a signature store "
            f"(expected {_SIG_STORE_FORMAT!r})"
        )
    has_ts = _store_has_ingest_ts(manifest)
    if has_ts and ingest_ts is None:
        raise IOError(
            f"{op}: store carries ingest_ts (timestamp-TTL layout) — "
            "pass ingest_ts so the committed rows stay expirable"
        )
    if not has_ts and ingest_ts is not None:
        raise IOError(
            f"{op}: store has no ingest_ts column (legacy id-TTL "
            "layout) — the timestamp would be dropped on read; rebuild "
            "the store with build_signature_store(..., ingest_ts=...)"
        )
    return has_ts


def build_signature_store(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 100,
    ingest_ts: int | None = None,
) -> None:
    """Materialize the corpus' MinHash signatures as a parquet store —
    the S7-style sink that makes incremental dedup truly incremental:
    the corpus is scanned ONCE at store-build time; every later delta
    batch reads k longs per doc back instead of re-shingling the lake.
    Executor-side write (no driver collect); the `_manifest.json`
    records the build parameters and schema (see
    _read_signature_store). Works for an EMPTY corpus — the manifest
    schema bootstraps reads, so the ingest loop can start cold.

    ``ingest_ts`` (a caller-supplied LOGICAL timestamp — batch
    sequence number or epoch day; never a wall clock, so every run is
    replayable) opts the store into the timestamp-TTL layout: each row
    carries the ingest_ts of the commit that wrote it, and
    compact_signature_store can expire by age (``ingest_ts >= h``)
    instead of by id. Writers into a ts store MUST pass ingest_ts
    (enforced loudly); legacy stores reject it symmetrically.

    Writes a FRESH ``gen_<uuid>`` subdir under the store's writer
    lease, then flips the manifest (review finding: the previous
    root-level mode('overwrite') write both destroyed a concurrent
    writer's lease file — Spark's overwrite clears the whole dir — and
    bypassed the lease protocol entirely; a rebuild racing a live
    append could silently lose the commit). A rebuild into an existing
    path GCs the superseded data after the flip, exactly like
    compaction."""
    import uuid

    from tabsketchfm_spark.sources.store_util import (
        read_manifest,
        write_manifest,
        writer_lease,
    )

    cached = _lsh_sigs(corpus, id_col, text_col, n, num_perm)
    sigs = cached
    if ingest_ts is not None:
        sigs = sigs.withColumn("ingest_ts", F.lit(int(ingest_ts)).cast("bigint"))
    try:
        with writer_lease(path, owner="build_signature_store"):
            try:
                m_old = read_manifest(path)
            except Exception:
                m_old = None  # fresh path: nothing to supersede
            if m_old is not None:
                # deferred GC: the PREVIOUS cycle's retired data (its
                # readers are gone) + any crashed-write orphan gen dir
                _sweep_retired_sig_data(path, m_old)
            gen = f"gen_{uuid.uuid4().hex[:12]}"
            sigs.write.mode("overwrite").parquet(f"{path}/{gen}")
            manifest = {
                "format": _SIG_STORE_FORMAT,
                "n": n,
                "num_perm": num_perm,
                "id_col": id_col,
                "schema": sigs.schema.json(),
                "data_dir": gen,
            }
            if m_old is not None:
                # retire (don't delete) the superseded generation for
                # ONE cycle: a lazy frame built against it can still
                # finish its scan ('.' = the legacy flat root's files)
                manifest["retired_data_dir"] = m_old.get("data_dir") or "."
            # atomic temp+replace flip (store_util contract), AFTER the data
            write_manifest(path, manifest)
    finally:
        cached.unpersist()  # the _lsh_sigs cache, not the derived frame


def _sweep_retired_sig_data(path: str, manifest: dict) -> None:
    """DEFERRED one-cycle GC for the signature store (the ivfpq-twin
    pattern, review finding: an immediate post-flip rmtree breaks a
    concurrent reader's lazy frame still pinned to the old generation
    — e.g. a dedup_incremental_lsh_stored result collected after a
    rebuild). Runs at the START of the next rebuild/compaction, under
    the writer lease: (1) the generation the PREVIOUS flip retired
    (its readers are gone by now — `'.'` marks the legacy flat root's
    files), and (2) any unreferenced gen_ dir (a write that crashed
    before its flip — under the lease, never a live writer's).
    `_`-prefixed entries (manifest, lease) are never touched."""
    import os
    import shutil

    from tabsketchfm_spark.sources.store_util import safe_subdir

    live = manifest.get("data_dir")
    retired = manifest.get("retired_data_dir")
    if retired == live or not live:
        # belt-and-braces: a corrupt manifest must never make the
        # sweep delete the LIVE generation (or, with no data_dir at
        # all, the flat root files a '.' retirement would target)
        retired = None
    if retired == ".":
        for entry in os.listdir(path):
            full = os.path.join(path, entry)
            if entry.startswith(("_", "gen_")):
                continue
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            elif os.path.isfile(full):
                os.remove(full)
    elif retired:
        # path-validated: '..', absolute paths, or nested values in a
        # corrupt manifest must never steer the rmtree outside the
        # store (safe_subdir returns None for anything suspicious)
        target = safe_subdir(path, retired, "gen_")
        if target is not None:
            shutil.rmtree(target, ignore_errors=True)
    if not live:
        return  # no generation pointer: nothing safe to classify as orphan
    if safe_subdir(path, live, "gen_") is None:
        # a corrupt live pointer ('gen_x/sub', '..', absolute) would
        # never string-equal a listdir entry, so the orphan loop below
        # would classify the ACTUAL live generation as an orphan and
        # delete it — refuse to sweep instead (the ivfpq twin's rule)
        return
    for entry in os.listdir(path):
        if (
            entry.startswith("gen_")
            and entry != live
            and entry != retired
            and os.path.isdir(os.path.join(path, entry))
        ):
            shutil.rmtree(os.path.join(path, entry), ignore_errors=True)


def dedup_incremental_lsh_stored(
    delta: DataFrame,
    spark,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 100,
    bands: int = 20,
    threshold: float = 0.5,
    caches: list | None = None,
) -> DataFrame:
    """dedup_incremental_lsh with the corpus side read from a
    build_signature_store parquet — the production deployment shape
    (only the delta is shingled; the corpus contributes a columnar
    signature scan). Bit-identical output to the self-contained
    operator: a signature depends only on the doc, so where it is
    read from cannot change a pair."""
    # store first: the manifest check fails FAST, before the delta
    # signature frame is built and persisted
    sig_c = _read_signature_store(spark, store_path, n, num_perm, caches)
    sig_d = _lsh_sigs(delta, id_col, text_col, n, num_perm, caches)
    return _lsh_cross_pairs(sig_d, sig_c, num_perm, bands, threshold)


def append_signatures(
    corpus_delta: DataFrame,
    spark,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 100,
    ingest_ts: int | None = None,
    merges_path: str | None = None,
) -> None:
    """Bulk signature append WITHOUT a dedup verdict — the backfill /
    migration primitive (e.g. registering a pre-vetted corpus slice
    into the store so later deltas dedup against it). Same commit
    shape as ingest_dedup_commit: executor-side parquet into a fresh
    commit subdir inside the live generation; parameter + ingest_ts
    contracts enforced against the manifest before any work runs.

    Takes the store's writer lease for its whole run: the write lands
    inside the generation the manifest pointed at under the lease, so
    a concurrent compaction can neither retire that generation nor
    orphan-sweep the half-written commit dir.

    ``merges_path`` appends under the TOKENIZER-AWARE scheme (a
    re-shingled store — round-12): the delta's signatures are built
    with bpe_segmented_sigs under the artifact's merges, and the read
    guard enforces the symmetric scheme contract (this writer into a
    legacy store, or the word-n-gram writer into a re-shingled store,
    both refuse loudly)."""
    import uuid

    from tabsketchfm_spark.sources.store_util import read_manifest, writer_lease

    with writer_lease(store_path, owner="append_signatures", require_store=True):
        m = read_manifest(store_path)
        has_ts = _check_ingest_ts_contract(m, ingest_ts, "append_signatures")
        merges = tok = None
        if merges_path is not None:
            from tabsketchfm_spark.operators.bpe import load_merges, merges_hash

            merges = load_merges(merges_path)
            tok = merges_hash(merges)
        caches: list = []
        try:
            # format/params validated by _read_signature_store below
            # (the ONE validation seam) before any Spark job runs.
            # FULL-ROW left_anti against the store (the store family's
            # retried-batch rule): a crash between the parquet job and
            # the caller's return, then a retry, must not double-commit
            # — duplicate rows would fan out the slot-agreement join
            # until the next compaction. The anti join is on EVERY
            # column (not id alone): an id re-ingested with changed
            # content or a fresher ingest_ts is a legitimate refresh
            # row that compaction's last-seen-wins rule resolves; only
            # a byte-identical replay is a retry to drop.
            stored = _read_signature_store(
                spark, store_path, n, num_perm, caches, tokenizer_hash=tok
            )
            sigs = (
                bpe_segmented_sigs(
                    corpus_delta, merges, id_col, text_col, n, num_perm, caches
                )
                if merges is not None
                else _lsh_sigs(corpus_delta, id_col, text_col, n, num_perm, caches)
            )
            out = sigs
            if has_ts:
                out = out.withColumn(
                    "ingest_ts", F.lit(int(ingest_ts)).cast("bigint")
                )
            out = out.join(stored, list(out.columns), "left_anti")
            root = _sig_data_root(store_path, m)
            out.write.mode("overwrite").parquet(
                f"{root}/commit_{uuid.uuid4().hex[:12]}"
            )
        finally:
            for c in caches:
                c.unpersist()


def ingest_dedup_commit(
    delta: DataFrame,
    spark,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 100,
    bands: int = 20,
    threshold: float = 0.5,
    ingest_ts: int | None = None,
) -> DataFrame:
    """The full incremental-ingest loop, one call per arriving batch:
    (1) dedup the delta against the signature store AND against the
    EARLIER docs of its own batch (crawlers routinely deliver a page
    and its near-copy together — without the intra-batch pass both
    would be committed); (2) COMMIT the survivors' signatures into the
    store, so later deltas dedup against everything previously
    accepted (keep-first policy: an intra-batch reject's content is
    represented by its earlier match, which is either committed or
    itself matched the corpus); (3) return the delta's verdict rows.

    The store grows by k longs per accepted doc per batch; the commit
    is an executor-side parquet append into a fresh subdirectory (no
    read-modify-write of existing files — object-store-friendly; a
    real deployment uses a Delta/Iceberg append for atomicity).
    Output: (delta_id, accepted, matched_corpus_id, est_jaccard) —
    EXACTLY one row per delta doc (docs too short to shingle — under
    ``n`` tokens — carry no signature, so LSH cannot reject them:
    accepted, nothing committed; pair exact_dedup upstream for those).
    ``matched_corpus_id`` may name an earlier doc of the same batch.

    ``ingest_ts``: required (and only allowed) for timestamp-TTL
    stores — the committed survivors carry it so compaction can
    expire them by age; a logical clock (batch seq / epoch day), not
    wall time."""
    import uuid

    from tabsketchfm_spark.sources.store_util import (
        acquire_lease,
        read_manifest,
        release_lease,
    )

    # writer lease across the whole read→verdict→commit: the resolved
    # generation must stay live until the commit dir lands (and two
    # concurrent ingests against one store would race keep-first order)
    acquire_lease(store_path, owner="ingest_dedup_commit", require_store=True)
    caches: list = []
    try:
        manifest = read_manifest(store_path)
        has_ts = _check_ingest_ts_contract(
            manifest, ingest_ts, "ingest_dedup_commit"
        )
        sig_c = _read_signature_store(spark, store_path, n, num_perm, caches)
        sig_d = _lsh_sigs(delta, id_col, text_col, n, num_perm, caches)
        pairs = _lsh_cross_pairs(sig_d, sig_c, num_perm, bands, threshold)
        # intra-batch pass: self cross-pairs, matching only EARLIER
        # (lower-id) batch docs — the deterministic keep-first order
        intra = _lsh_cross_pairs(sig_d, sig_d, num_perm, bands, threshold).where(
            F.col("corpus_id") < F.col("delta_id")
        )
        # best match per delta doc: max (est, id) — deterministic
        best = (
            pairs.unionByName(intra)
            .groupBy("delta_id")
            .agg(F.max(F.struct("est_jaccard", "corpus_id")).alias("m"))
        )
        verdict = (
            delta.select(F.col(id_col).alias("delta_id"))
            .join(best, "delta_id", "left")
            .select(
                "delta_id",
                F.col("m").isNull().alias("accepted"),
                F.col("m.corpus_id").alias("matched_corpus_id"),
                F.col("m.est_jaccard").alias("est_jaccard"),
            )
            .persist()
        )
        caches.append(verdict)  # released in finally even if a write throws
        survivors = sig_d.join(
            verdict.where("accepted").select(F.col("delta_id").alias("id")),
            "id",
        )
        if has_ts:
            survivors = survivors.withColumn(
                "ingest_ts", F.lit(int(ingest_ts)).cast("bigint")
            )
        # fresh subdir per commit: parquet append without touching
        # existing files, and a crashed write never corrupts the store;
        # commits land inside the LIVE generation so compaction's
        # manifest flip atomically retires them with the old data
        root = _sig_data_root(store_path, manifest)
        survivors.write.mode("overwrite").parquet(
            f"{root}/commit_{uuid.uuid4().hex[:12]}"
        )
        rows = verdict.collect()  # one row per delta doc — bounded
        return spark.createDataFrame(rows, verdict.schema)
    finally:
        release_lease(store_path)
        for c in caches:
            c.unpersist()


def compact_signature_store(
    spark,
    path: str,
    keep_pred: str = "true",
    n: int = 3,
    num_perm: int = 100,
) -> None:
    """TTL/compaction for the signature store — the maintenance op the
    daily-crawl loop needs: commit subdirs accumulate one per batch
    forever, and expired docs keep matching new deltas long after
    their content left the lake. ``keep_pred`` is a SQL predicate over
    the signature row: with monotonic ingest ids, ``id >= horizon`` IS
    the TTL rule; a store built with ``ingest_ts`` (timestamp-TTL
    layout) expires by age instead — ``ingest_ts >= horizon`` — which
    survives non-monotonic / externally-assigned doc ids.

    Shape: read the live generation (base + every commit), apply the
    keep rule, collapse any duplicate ids deterministically (row-wise
    lexicographic MIN over the whole signature struct — the kept row
    is always one REAL signature; a per-column min would blend two
    different-content rows into a chimera vector belonging to
    neither; timestamp-TTL stores instead keep the LATEST row via a
    max over (ingest_ts, …) — last-seen-wins), write ONE fresh
    ``gen_<uuid>`` subdir, flip the manifest's data_dir pointer
    atomically, and RETIRE (not delete) the superseded generation: GC
    is deferred one maintenance cycle so a concurrent reader's lazy
    frame pinned to the old generation can finish its scan (the
    store-family invariant; the sweep also collects crashed-write
    orphan gen dirs). A crash before the flip leaves the store serving
    the old generation intact; readers resolve the generation at read
    time.

    One shuffle on id; the rewrite is executor-side parquet, no
    driver collect."""
    from tabsketchfm_spark.sources.store_util import writer_lease

    with writer_lease(path, owner="compact_signature_store", require_store=True):
        _compact_signature_store_locked(spark, path, keep_pred, n, num_perm)


def _compact_signature_store_locked(
    spark, path: str, keep_pred: str, n: int, num_perm: int
) -> None:
    import uuid

    from tabsketchfm_spark.sources.store_util import read_manifest, write_manifest

    m = read_manifest(path)
    # deferred GC first: the previous cycle's retired generation (its
    # readers are gone by now) + any crashed-write orphan gen dirs
    _sweep_retired_sig_data(path, m)
    # compaction is scheme-AGNOSTIC (it rewrites rows, never computes
    # a signature) — accept whatever tokenizer the store carries
    sigs = _read_signature_store(
        spark, path, n, num_perm, tokenizer_hash=m.get("tokenizer_hash")
    )
    try:
        other_cols = [c for c in sigs.columns if c != "id"]
        if "ingest_ts" in sigs.columns:
            # timestamp-TTL layout: a re-ingested id keeps its LATEST
            # row (last-seen-wins — the freshness the TTL horizon is
            # about; the kept row is still one real signature). The
            # struct leads with ingest_ts so max() orders on it; mh
            # columns only break exact-ts ties deterministically.
            lead = ["ingest_ts"] + [c for c in other_cols if c != "ingest_ts"]
            agg = F.max(F.struct(*lead)).alias("m")
        else:
            agg = F.min(F.struct(*other_cols)).alias("m")
        compacted = (
            sigs.where(F.expr(keep_pred))
            .groupBy("id")
            .agg(agg)
            .select("id", *[F.col(f"m.{c}").alias(c) for c in other_cols])
        )
        gen = f"gen_{uuid.uuid4().hex[:12]}"
        compacted.write.mode("overwrite").parquet(f"{path}/{gen}")
        # retire the superseded generation for ONE cycle (deferred GC,
        # shared with rebuild — swept at the next maintenance call)
        write_manifest(
            path,
            {**m, "data_dir": gen, "retired_data_dir": m.get("data_dir") or "."},
        )
    finally:
        sigs.unpersist()


def _lsh_sigs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_perm: int,
    caches: list | None = None,
) -> DataFrame:
    """(id, mh0..mhN) MinHash signature frame — persisted: consumed by
    banding AND the estimate join (lazy registered consumers keep the
    cache per the registry contract; eager callers pass ``caches``)."""
    sh = _shingles(df, id_col, text_col, n, dedupe=False)
    return _sigs_from_tokens(sh, num_perm, caches)


def _sigs_from_tokens(
    sh: DataFrame, num_perm: int, caches: list | None = None
) -> DataFrame:
    """The scheme-independent signature tail: any (id, shingle) token
    frame → (id, mh0..mhN) via the wide-MIN permutation aggregate.
    Shared by the word-n-gram scheme (_lsh_sigs) and the BPE-subword
    scheme (bpe_subword_sigs); duplicate tokens are harmless under
    MIN, so emitters need not dedupe."""
    h = F.expr(h32_sql("shingle", "spark"))
    sigs = (
        sh.select("id", h.alias("h"))
        .groupBy("id")
        .agg(*[F.expr(e) for e in minhash_agg_sql("h", num_perm)])
        .persist()
    )
    if caches is not None:
        caches.append(sigs)
    return sigs


def _slot_est_sql(num_perm: int) -> str:
    """Slot-agreement estimate as ONE parsed expression: the python
    ``sum()`` of 100 Column comparisons built ~400 py4j round trips and
    the same left-associative Add chain this string parses to."""
    terms = " + ".join(
        f"CAST((a{i} = b{i}) AS INT)" for i in range(num_perm)
    )
    return f"(({terms}) / CAST({float(num_perm):.17e} AS DOUBLE))"


def _band_structs_sql(num_perm: int, bands: int) -> str:
    """named_struct list for the banded keys — ONE parsed expression
    (the Column builder paid ~12 py4j calls per band)."""
    rows = num_perm // bands
    parts = []
    for b in range(bands):
        slots = ", ".join(
            f"CAST(mh{b * rows + r} AS STRING)" for r in range(rows)
        )
        parts.append(
            f"named_struct('band', {b}, 'bkey', md5(concat_ws(',', {slots})))"
        )
    return ", ".join(parts)


def _lsh_band_keys(sigs: DataFrame, num_perm: int, bands: int) -> DataFrame:
    return sigs.selectExpr(
        "id", f"inline(array({_band_structs_sql(num_perm, bands)}))"
    )


def _lsh_cross_pairs(
    sig_d: DataFrame,
    sig_c: DataFrame,
    num_perm: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """Banded bucket equi-join keeping ONLY delta×corpus cross pairs,
    verified by slot agreement."""
    cand = (
        _lsh_band_keys(sig_d, num_perm, bands)
        .alias("x")
        .join(_lsh_band_keys(sig_c, num_perm, bands).alias("y"), ["band", "bkey"])
        .select(F.col("x.id").alias("delta_id"), F.col("y.id").alias("corpus_id"))
        .distinct()
    )
    sa = sig_d.selectExpr(
        "id AS delta_id", *[f"mh{i} AS a{i}" for i in range(num_perm)]
    )
    sb = sig_c.selectExpr(
        "id AS corpus_id", *[f"mh{i} AS b{i}" for i in range(num_perm)]
    )
    return (
        cand.join(sa, "delta_id")
        .join(sb, "corpus_id")
        .selectExpr(
            "delta_id", "corpus_id", _slot_est_sql(num_perm) + " AS est_jaccard"
        )
        .where(F.col("est_jaccard") >= threshold)
    )


def dedup_incremental_lsh_oracle_sql(
    table: str,
    delta_pred: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 100,
    bands: int = 20,
    threshold: float = 0.5,
    corpus_pred: str | None = None,
) -> str:
    """DuckDB twin for a delta/corpus split of one table by
    ``delta_pred`` (a boolean SQL expression over ``id``): signatures
    are computed once for every doc — a doc's signature is the same
    whether built from the subset or the full table — and the bucket
    join keeps only delta×corpus cross pairs. ``corpus_pred`` narrows
    the corpus side beyond the default complement (the compacted-store
    gate: a TTL rule removed part of the corpus)."""
    cpred = corpus_pred or f"NOT ({delta_pred})"
    ctes, final = _incremental_pairs_tail_sql(
        num_perm, bands, threshold, delta_pred, cpred
    )
    return (
        "WITH "
        + _shingles_cte_duckdb(table, id_col, text_col, n).lstrip()
        + ",\n"
        + ",\n".join(ctes)
        + "\n"
        + final
    )


def _incremental_pairs_tail_sql(
    num_perm: int, bands: int, threshold: float, delta_pred: str, cpred: str
) -> tuple[list[str], str]:
    """(CTE list, final SELECT) of the shared MinHash → band → delta×
    corpus cross-pair program over an upstream ``sh(id, shingle)``
    CTE — ONE copy for the word-n-gram and tokenizer-aware
    incremental oracles (the SQL-scaffold-fork drift class the build
    notes warn about)."""
    rows = num_perm // bands
    h = h32_sql("shingle", "duckdb")
    ctes = [
        f"perms AS ({perms_cte_duckdb(num_perm)})",
        f"sig AS (SELECT id, i, min((a * hv + b) % {MINHASH_PRIME}) AS s "
        f"FROM (SELECT id, {h} AS hv FROM sh) hsh, perms GROUP BY id, i)",
        f"banded AS (SELECT id, CAST(i // {rows} AS INTEGER) AS band, "
        "md5(string_agg(CAST(s AS VARCHAR), ',' ORDER BY i)) AS bkey "
        f"FROM sig GROUP BY id, i // {rows})",
        "cand AS (SELECT DISTINCT x.id AS delta_id, y.id AS corpus_id "
        "FROM banded x JOIN banded y USING (band, bkey) "
        f"WHERE ({delta_pred.format(id='x.id')}) "
        f"AND ({cpred.format(id='y.id')}))",
        "est AS (SELECT delta_id, corpus_id, "
        "sum(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) / "
        f"CAST({num_perm} AS DOUBLE) AS est_jaccard "
        "FROM cand JOIN sig sa ON sa.id = delta_id "
        "JOIN sig sb ON sb.id = corpus_id AND sb.i = sa.i "
        "GROUP BY delta_id, corpus_id)",
    ]
    final = (
        "SELECT delta_id, corpus_id, est_jaccard FROM est "
        f"WHERE est_jaccard >= {threshold}"
    )
    return ctes, final


# ---------------------------------------------------------------------------
# Tokenizer-aware signatures + re-shingle maintenance (round-12)
#
# The signature store's scheme is part of its identity: signatures
# computed under different tokenizations are incomparable. When the
# pipeline's tokenizer changes (a new BPE vocabulary is trained —
# bpe.save_merges is the artifact, its content hash the change
# signal), every stored signature is stale. sig_store_reshingle is
# the drift-gated maintenance verb: compare the store's recorded
# tokenizer_hash against the artifact's, and rebuild the stored
# population's signatures from the corpus only on a REAL change —
# the ivfpq autorefresh pattern (one lease across the whole
# check→rebuild RMW; an unchanged tokenizer is a no-op, so a retried
# maintenance call never rewrites a generation).
#
# The tokenizer-aware scheme keeps the store's word-n-gram STRUCTURE
# but spells every clean word (bpe.WORD_RE + length bounds — the
# corpus BPE learns on) as its SEGMENTATION under the merge program
# (the trimmed double-space encoding); out-of-scope tokens stay raw.
# Segmentation is injective, so the scheme's discrimination equals
# the word scheme's (a subword-unigram SET was measured VACUOUS here:
# tiny merge vocabularies make every document's subword set cover
# most of the alphabet — median cross-doc Jaccard 0.94 at sf0.01),
# while every shingle string — and therefore every stored hash —
# depends on the tokenizer. The whole scheme replays in DuckDB: the
# oracle re-derives the merges from the corpus (bpe._oracle_ctes),
# segments the vocabulary once (r{k}), LEFT-JOINs the ordered word
# stream to it, and mirrors the band structure bit-exactly.


def bpe_segmented_shingles(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_word_len: int | None = None,
) -> DataFrame:
    """(id, shingle) — word n-grams over tokenizer-segmented
    spelling. The merge chain is a pure string expression, so
    segmentation runs INSIDE transform() over the token array — no
    vocabulary join, same single-pass shape as _shingles."""
    from tabsketchfm_spark.operators.bpe import (
        END,
        MAX_WORD_LEN,
        WORD_RE,
        _apply_merges,
    )
    from tabsketchfm_spark.sources.tables import spread

    mwl = MAX_WORD_LEN if max_word_len is None else max_word_len

    def _mapped(w):
        base = F.concat(
            F.lit(" "),
            F.concat_ws("  ", F.split(w, "")),
            F.lit("  " + END + " "),
        )
        return F.when(
            w.rlike(WORD_RE) & F.length(w).between(2, mwl),
            F.trim(_apply_merges(base, merges)),
        ).otherwise(w)

    elems = ", ".join(f"tk[i+{j}]" for j in range(n))
    sh = (
        f"CASE WHEN size(tk) >= {n} THEN "
        f"transform(sequence(0, size(tk) - {n}), i -> concat_ws(' ', {elems})) "
        f"ELSE array() END"
    )
    tk = spread(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"),
        F.transform(
            F.expr(f"filter(split({text_col}, '\\\\s+'), t -> t <> '')"),
            _mapped,
        ).alias("tk"),
    )
    return tk.select("id", F.explode(F.expr(sh)).alias("shingle"))


def bpe_segmented_sigs(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 100,
    caches: list | None = None,
) -> DataFrame:
    """(id, mh0..mhN) MinHash signatures under the tokenizer-aware
    scheme — the sibling of _lsh_sigs, sharing the wide-MIN
    permutation tail."""
    return _sigs_from_tokens(
        bpe_segmented_shingles(df, merges, id_col, text_col, n),
        num_perm,
        caches,
    )


def sig_store_reshingle(
    corpus: DataFrame,
    spark,
    path: str,
    merges_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> bool:
    """Drift-gated RE-SHINGLE of a signature store on tokenizer
    change (round-11 verdict item 2 — the maintenance matrix's last
    store): load the hash-verified merges artifact, compare its
    content hash to the store's recorded ``tokenizer_hash`` (absent =
    the legacy word-n-gram scheme), and — only on a REAL change —
    rebuild the STORED POPULATION's signatures from ``corpus`` under
    the new scheme, committing a fresh generation whose manifest
    records the new hash (deferred one-cycle GC, the family
    contract). An unchanged tokenizer returns False without writing
    anything, so the decision is retry-idempotent by construction.

    ONE writer lease wraps the whole check→rebuild RMW (the round-11
    composite-verb rule: per-step leases would let a concurrent
    append land between the decision and the rewrite and be silently
    dropped from the new generation).

    Membership contract: the store's CURRENT id set is rebuilt — one
    row per id (a ts store's duplicate appends compact to the LATEST
    ingest_ts, which the new row inherits; re-shingling is a rebuild
    from current content, and the corpus has one current text per
    id). Every stored id must appear in ``corpus`` (loud ValueError
    otherwise: a partial corpus would silently drop the rest), though
    an id whose text has no clean words legitimately leaves the store
    — the new scheme simply has no tokens for it, as at build time.

    Returns whether the re-shingle fired."""
    import uuid

    from tabsketchfm_spark.operators.bpe import load_merges, merges_hash
    from tabsketchfm_spark.sources.store_util import (
        read_manifest,
        write_manifest,
        writer_lease,
    )

    with writer_lease(path, owner="sig_store_reshingle", require_store=True):
        m = read_manifest(path)
        if m.get("format") != _SIG_STORE_FORMAT or "schema" not in m:
            raise IOError(
                f"sig_store_reshingle: store manifest at {path} has format "
                f"{m.get('format')!r} — not a signature store "
                f"(expected {_SIG_STORE_FORMAT!r})"
            )
        merges = load_merges(merges_path)  # hash-verified scan
        new_hash = merges_hash(merges)
        if m.get("tokenizer_hash") == new_hash:
            return False  # tokenizer unchanged: signatures current
        old = _read_signature_store(
            spark,
            path,
            int(m["n"]),
            int(m["num_perm"]),
            tokenizer_hash=m.get("tokenizer_hash"),
        )
        sigs = corp = None
        try:
            has_ts = "ingest_ts" in old.columns
            members = (
                old.groupBy("id").agg(F.max("ingest_ts").alias("ingest_ts"))
                if has_ts
                else old.select("id").distinct()
            )
            corp = corpus.select(
                F.col(id_col).alias("id"), F.col(text_col).alias("__text")
            ).persist()  # two consumers: membership checks + the build
            missing = members.join(corp, "id", "left_anti").count()
            if missing:
                raise ValueError(
                    f"sig_store_reshingle: {missing} stored doc id(s) are "
                    "absent from the supplied corpus — re-shingling would "
                    "silently drop them (pass the full current corpus, or "
                    "compact the store first)"
                )
            scoped = corp.join(members.select("id"), "id", "left_semi")
            # loud duplicate-id guard (the compaction chimera rule):
            # two corpus rows under one stored id would MIN-blend both
            # texts' hashes into a signature belonging to neither —
            # the 'one current text per id' contract is enforced, not
            # assumed, before any write
            dr = scoped.agg(
                F.count(F.lit(1)).alias("nr"),
                F.countDistinct("id").alias("nd"),
            ).collect()[0]
            if int(dr["nr"]) != int(dr["nd"]):
                raise ValueError(
                    f"sig_store_reshingle: corpus carries "
                    f"{int(dr['nr']) - int(dr['nd'])} duplicate row(s) for "
                    "stored doc id(s) — re-shingling would blend them into "
                    "chimera signatures (dedupe the corpus to one current "
                    "text per id first)"
                )
            sigs = bpe_segmented_sigs(
                scoped, merges, id_col="id", text_col="__text",
                n=int(m["n"]), num_perm=int(m["num_perm"]),
            )
            mh_cols = [c for c in sigs.columns if c != "id"]
            out = (
                sigs.join(members, "id").select("id", *mh_cols, "ingest_ts")
                if has_ts
                else sigs
            )
            # superseded-generation sweep AFTER the decision (a no-op
            # call must leave the store byte-untouched) but BEFORE the
            # new commit, mirroring build/compact's deferred-GC order
            _sweep_retired_sig_data(path, m)
            gen = f"gen_{uuid.uuid4().hex[:12]}"
            out.write.mode("overwrite").parquet(f"{path}/{gen}")
            write_manifest(
                path,
                {
                    "format": _SIG_STORE_FORMAT,
                    "n": m["n"],
                    "num_perm": m["num_perm"],
                    "id_col": m.get("id_col", id_col),
                    "schema": out.schema.json(),
                    "data_dir": gen,
                    "retired_data_dir": m.get("data_dir") or ".",
                    "tokenizer_hash": new_hash,
                },
            )
        finally:
            old.unpersist()
            for f in (sigs, corp):
                if f is not None:
                    f.unpersist()
    return True


def dedup_incremental_bpe_stored(
    delta: DataFrame,
    spark,
    store_path: str,
    merges_path: str,
    num_perm: int = 100,
    bands: int = 20,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    caches: list | None = None,
) -> DataFrame:
    """Serve a delta dedup against a RE-SHINGLED store: the delta is
    tokenized under the SAME merges artifact the store's signatures
    were rebuilt with (the tokenizer_hash read guard makes a scheme
    mismatch loud — a word-n-gram delta against a subword store would
    produce meaningless estimates), then the standard banded
    cross-pair join. Bit-identical to computing both sides fresh: a
    signature depends only on (doc, tokenizer)."""
    from tabsketchfm_spark.operators.bpe import load_merges, merges_hash
    from tabsketchfm_spark.sources.store_util import read_manifest

    merges = load_merges(merges_path)
    m = read_manifest(store_path)
    n = int(m.get("n", 3))
    sig_c = _read_signature_store(
        spark,
        store_path,
        n,
        num_perm,
        caches,
        tokenizer_hash=merges_hash(merges),
    )
    sig_d = bpe_segmented_sigs(
        delta, merges, id_col, text_col, n, num_perm, caches
    )
    return _lsh_cross_pairs(sig_d, sig_c, num_perm, bands, threshold)


def dedup_incremental_bpe_oracle_sql(
    table: str,
    delta_pred: str,
    n: int = 3,
    n_merges: int = 8,
    num_perm: int = 100,
    bands: int = 20,
    threshold: float = 0.5,
    corpus_pred: str | None = None,
    max_word_len: int | None = None,
) -> str:
    """DuckDB twin of the re-shingle → serve composite: re-derive the
    merges from the corpus (bpe's chained MATERIALIZED merge CTEs),
    segment the vocabulary once (r{n_merges}), rebuild each document's
    ORDERED token stream with clean words respelled as their
    segmentation (LEFT JOIN — out-of-scope tokens stay raw, matching
    the Spark CASE), then the same sig/banded/cand/est program as
    dedup_incremental_lsh_oracle_sql. ``table`` must be the documents
    lake (bpe's word CTEs read it by name)."""
    from tabsketchfm_spark.operators.bpe import MAX_WORD_LEN, _oracle_ctes

    mwl = MAX_WORD_LEN if max_word_len is None else max_word_len
    assert table == "documents", "bpe merge CTEs read the documents lake"
    cpred = corpus_pred or f"NOT ({delta_pred})"
    ctes = _oracle_ctes(n_merges, mwl, final_round=True)
    ctes.append(
        f"toks0 AS (SELECT doc_id AS id, "
        "list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk0 "
        f"FROM {table})"
    )
    ctes.append(
        "toksw AS (SELECT id, j, tk0[j] AS w FROM toks0, "
        "unnest(generate_series(1, len(tk0))) t(j))"
    )
    ctes.append(
        "segw AS (SELECT t.id, t.j, "
        "coalesce(trim(r.seq), t.w) AS tok "
        f"FROM toksw t LEFT JOIN r{n_merges} r ON r.w = t.w)"
    )
    ctes.append(
        "tkx AS (SELECT id, list(tok ORDER BY j) AS tk FROM segw GROUP BY id)"
    )
    ctes.append(
        f"sh AS (SELECT id, array_to_string(tk[i:i+{n - 1}], ' ') AS shingle "
        f"FROM tkx, unnest(generate_series(1, len(tk) - {n} + 1)) t(i))"
    )
    tail, final = _incremental_pairs_tail_sql(
        num_perm, bands, threshold, delta_pred, cpred
    )
    return "WITH " + ",\n".join(ctes + tail) + "\n" + final


def crawl_tokenizer_rollout_oracle_sql(
    table: str,
    boundary: int,
    n: int = 3,
    n_merges: int = 8,
    num_perm: int = 50,
    bands: int = 10,
    threshold: float = 0.5,
    bounded_mod: int = 13,
) -> str:
    """The mid-crawl tokenizer-rollout gate, closed-form: the final
    stored clusters equal the CC closure over the UNION of
    (a) word-n-gram pairs whose endpoints BOTH arrived before the
    rollout (found during phase A — the crawl composition theorem per
    scheme), and (b) tokenizer-aware pairs with at least one
    post-rollout endpoint (each found at its later endpoint's batch:
    delta-vs-reshingled-store cross pairs + intra-batch pairs union
    to exactly the complement set). Self- and symmetric-duplicate
    edges from the phase-B complement construction are harmless to
    the closure (edges are bidirected + self-seeded anyway). The
    rollout preserves cluster HISTORY: phase-A merges persist even
    where scheme B alone would not pair them."""
    from tabsketchfm_spark.functions.gates import bounded_tail_sql

    wordp = minhash_lsh_oracle_sql(
        table, "doc_id", "text", n, num_perm, bands, threshold
    )
    bpep = dedup_incremental_bpe_oracle_sql(
        table,
        "{id} >= " + str(boundary),
        n=n,
        n_merges=n_merges,
        num_perm=num_perm,
        bands=bands,
        threshold=threshold,
        corpus_pred="TRUE",
    )
    # the phase union rides an inner pu CTE so this body's top level
    # is a plain SELECT: under the closure's WITH RECURSIVE, a CTE
    # body ENDING in a bare UNION is parsed as the recursive split
    # and the nested pa/pb references fail to resolve
    pairs_sql = (
        "WITH pa AS MATERIALIZED (SELECT id_a, id_b FROM (\n"
        + wordp
        + f") w WHERE id_a < {boundary} AND id_b < {boundary}),\n"
        "pb AS MATERIALIZED (SELECT delta_id AS id_a, corpus_id AS id_b "
        "FROM (\n"
        + bpep
        + ") b WHERE delta_id <> corpus_id),\n"
        "pu AS (SELECT id_a, id_b FROM pa "
        "UNION SELECT id_a, id_b FROM pb)\n"
        "SELECT id_a, id_b FROM pu"
    )
    return _cc_closure_sql(pairs_sql, table, "doc_id") + bounded_tail_sql(
        "labels",
        "doc_id",
        {"cid": "cluster_id", "size": "cluster_size"},
        bounded_mod,
    )


# ---------------------------------------------------------------------------
# SimHash


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """32-bit SimHash per document: for each bit, the sign of the sum of
    ±1 votes from every token's h32. One scan; the per-bit sums are 32
    aggregate expressions (map-side combined). Output: (id, simhash)."""
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), r"\s+")).alias("t"),
        )
        .where(F.col("t") != "")
        .select("id", F.expr(h32_sql("t", "spark")).alias("h"))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    sums = toks.groupBy("id").agg(*bit_sums)
    sig = sum(
        F.when(F.col(f"s{b}") > 0, F.lit(2**b)).otherwise(F.lit(0)) for b in range(bits)
    )
    return sums.select("id", sig.cast("long").alias("simhash"))


def simhash_oracle_sql(
    table: str, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> str:
    h = h32_sql("t", "duckdb")
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    sig = " + ".join(f"CASE WHEN s{b} > 0 THEN {2**b} ELSE 0 END" for b in range(bits))
    return f"""
WITH toks AS (SELECT {id_col} AS id, unnest(string_split_regex({text_col}, '\\s+')) AS t
              FROM {table}),
hashed AS (SELECT id, {h} AS h FROM toks WHERE t <> ''),
sums AS (SELECT id, {bit_sums} FROM hashed GROUP BY id)
SELECT id, CAST({sig} AS BIGINT) AS simhash FROM sums
"""


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 32,
) -> DataFrame:
    """Pairs whose SimHashes differ in <= max_hamming bits.

    Pigeonhole candidate generation: the signature splits into
    (max_hamming+1) disjoint bit chunks, and a pair within the Hamming
    ball has <= max_hamming differing bits, so it agrees EXACTLY on at
    least one chunk. Candidates therefore come from an equi-join on
    (chunk_index, chunk_value) — the same bucketed shape as the banded
    MinHash LSH join, linear in bucket sizes instead of O(n²) — and the
    cheap ``bit_count`` check verifies; ``distinct`` collapses pairs
    that agree on several chunks. Output: (id_a, id_b, hamming).
    """
    k = max_hamming + 1
    w = bits // k
    widths = [w] * (k - 1) + [bits - w * (k - 1)]
    offsets = [w * i for i in range(k)]
    s = simhash(df, id_col, text_col, bits)
    chunks = s.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright(F.col("simhash"), offsets[i])
                        .bitwiseAND(F.lit((1 << widths[i]) - 1))
                        .alias("cv"),
                    )
                    for i in range(k)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", "c.ci", "c.cv")
    a = chunks.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("ha"), "ci", "cv"
    )
    b = chunks.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("hb"), "ci", "cv"
    )
    return (
        a.join(b, on=["ci", "cv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_dups_bruteforce(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 32,
) -> DataFrame:
    """All-pairs reference form of :func:`simhash_near_dups` — O(n²)
    crossJoin, kept ONLY as a test cross-check for the pigeonhole
    candidate generator. Never register or run this at scale."""
    s = simhash(df, id_col, text_col, bits)
    a = s.select(F.col("id").alias("id_a"), F.col("simhash").alias("ha"))
    b = s.select(F.col("id").alias("id_b"), F.col("simhash").alias("hb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_near_dups_oracle_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 32,
) -> str:
    base = simhash_oracle_sql(table, id_col, text_col, bits)
    return f"""
WITH s AS ({base})
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM s a JOIN s b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# superseded localCheckpoints need their RDD blocks freed directly
# (Dataset.unpersist is a no-op for checkpointed frames) — one shared
# definition in bpe.py
from tabsketchfm_spark.operators.bpe import _release_checkpoint


def _release_frame(df: DataFrame) -> None:
    """Release a frame that may be EITHER persisted or
    localCheckpointed: unpersist handles the former,
    _release_checkpoint the latter — each is a safe no-op on the other
    kind."""
    df.unpersist()
    _release_checkpoint(df)


def _contract_round(e: DataFrame) -> DataFrame:
    """One large-star + small-star alternation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"), fused so the
    INTERMEDIATE edge set is never deduplicated: small-star's min
    aggregate is duplicate-tolerant and the round's trailing distinct
    restores the canonical edge set, so the output SET is identical
    while one full (a, b) distinct shuffle per alternation pair is
    removed (guide §2.4). Large-star emits edges oriented a > b
    (b = min of the old node's closed neighborhood, strictly below
    the strictly-larger neighbor it reconnects), which is exactly the
    large→small orientation small-star would normalize to, so its
    greatest/least projection is dropped too. Duplicate mid-edges are
    bounded by |bidir| = 2|e| — no growth hazard at scale."""
    bidir = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    ml = bidir.groupBy("a").agg(F.min("b").alias("mn"))
    ml = ml.select("a", F.least("a", "mn").alias("m"))
    # large-star output, duplicates retained (multiple old-neighbors
    # of one node sharing a minimum each emit the same (node, m) edge)
    mid = (
        bidir.join(ml, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .where(F.col("a") != F.col("b"))
    )
    ms = mid.groupBy("a").agg(F.min("b").alias("m"))
    nbrs = (
        mid.join(ms, "a")
        .where(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    slf = ms.select("a", F.col("m").alias("b"))
    return (
        nbrs.unionByName(slf)
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components_star(
    pairs: DataFrame,
    nodes: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "doc_id",
    max_iter: int = 12,
    dedupe_input: bool = True,
) -> DataFrame:
    """Connected components over near-dup pairs by star contraction
    (alternating large-star / small-star, Kiveris et al.) — the
    clustering step that turns pairwise matches into dedup groups.
    Output: (node, cluster_id = smallest node id in the component).
    O(log n) rounds: each alternation halves component height, where
    min-label propagation would need diameter-many rounds (a
    10^6-link chain would need 10^6 shuffles).

    Each round is two groupBy-min + two equi-joins over the CURRENT
    edge set (which only shrinks toward one star per component); the
    per-round localCheckpoint keeps the plan flat (un-truncated
    iterative lineage makes ANALYSIS the bottleneck) AND bounds the
    within-round duplicate-subtree recomputation (bidir and mid each
    feed two consumers — chaining rounds without materialization is
    exponential in the chain length; measured 2.7s → 5.1s at stride
    2). The checkpoint is LAZY
    (eager=False): the convergence fingerprint's aggregate is the
    action that materializes it, so each round costs ONE Spark job,
    not two (guide §1 — on small loop frames the unit of cost is
    per-job scheduler latency, not bytes). Convergence = edge-set
    fixpoint, detected by an O(1) (count, sum) fingerprint and then
    CONFIRMED exactly with a one-time exceptAll check — a fingerprint
    collision cannot produce a silent wrong answer, and exhausting
    max_iter fails loud."""
    def _fp(df: DataFrame) -> tuple:
        return tuple(
            df.agg(F.count(F.lit(1)), F.sum("a"), F.sum("b")).first()
        )

    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")).where(
        F.col("a") != F.col("b")
    )
    if dedupe_input:
        # callers whose pair relation is unique BY CONSTRUCTION (a
        # groupBy over (id_a, id_b)) pass dedupe_input=False and skip
        # this shuffle; the loop itself tolerates duplicate edges
        # (min aggregates + per-round distinct), duplicates only cost
        # edge-set size
        e = e.distinct()
    e = e.localCheckpoint()
    # seed with the INPUT's fingerprint so an already-fixpoint edge set
    # (e.g. a single edge, or a prior contraction's output) converges
    # on round 1 instead of spuriously exhausting max_iter=1
    prev_fp = _fp(e)
    converged = False
    for _ in range(max_iter):
        # lazy checkpoint: the _fp aggregate below is the action that
        # materializes it — one job per round instead of two
        new_e = _contract_round(e).localCheckpoint(eager=False)
        fp = _fp(new_e)
        if fp == prev_fp and new_e.exceptAll(e).isEmpty():
            # same cardinality + empty difference == identical multiset
            _release_checkpoint(e)
            e = new_e
            converged = True
            break
        _release_checkpoint(e)
        e = new_e
        prev_fp = fp
    if not converged:
        _release_checkpoint(e)
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"max_iter={max_iter} alternations; raise max_iter"
        )
    # fixpoint == one star per component, centered at the component
    # min: edges are exactly (node, min) for every non-min node
    labels = e.select(F.col("a").alias("node"), F.col("b").alias("lbl"))
    centers = e.select(
        F.col("b").alias("node"), F.col("b").alias("lbl")
    ).distinct()
    member = labels.unionByName(centers)
    isolated = nodes.select(F.col(node_col).alias("node")).join(
        F.broadcast(member.select("node")), "node", "left_anti"
    )
    # e stays checkpointed: the returned frame reads it lazily
    return member.unionByName(
        isolated.select("node", F.col("node").alias("lbl"))
    ).select(F.col("node").alias(node_col), F.col("lbl").alias("cluster_id"))


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = 1000,
) -> DataFrame:
    """North-star dedup clustering: n-gram-Jaccard near-dup pairs →
    connected components → (doc_id, cluster_id, cluster_size). A
    training pipeline keeps rows where doc_id == cluster_id (the
    canonical representative) — cluster_size > 1 marks the dups.

    Components come from star contraction (round-7 measurement,
    BENCH_NOTES): on synthetic 60k-node graphs it beat min-label
    propagation both shallow (3.0s vs 4.6s) and deep/diameter-29
    (5.5s vs 17.4s), and on the real near-dup graph the two were
    within noise (±0.5s)."""
    from pyspark.sql import Window

    pairs = ngram_jaccard_pairs(df, id_col, text_col, n, threshold, df_cap)
    # ngram_jaccard_pairs output is unique by construction
    # (groupBy(id_a, id_b)): skip the input-dedup shuffle
    labels = connected_components_star(
        pairs, df, node_col=id_col, dedupe_input=False
    )
    size_w = F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    return labels.select(id_col, "cluster_id", size_w.alias("cluster_size"))


def dedup_clusters_oracle_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = 1000,
) -> str:
    """DuckDB twin: transitive closure by recursive CTE (UNION dedups,
    so the fixpoint terminates), then min-reachable-id per node."""
    pairs = ngram_jaccard_oracle_sql(table, id_col, text_col, n, threshold, df_cap)
    return _cc_closure_sql(pairs, table, id_col) + "\nSELECT * FROM labels\n"


def bounded_labels_gate(
    labels: DataFrame, id_col: str = "doc_id", mod: int = 13
) -> DataFrame:
    """Bounded gate over a full (id, cluster_id, cluster_size) label
    set — sampled slice + plain and ID-WEIGHTED checksums; see
    functions/gates.py for the swap-coverage contract."""
    from tabsketchfm_spark.functions.gates import bounded_slice_gate

    return bounded_slice_gate(
        labels,
        id_col,
        {"cid": F.col("cluster_id"), "size": F.col("cluster_size")},
        mod,
    )


def dedup_clusters_bounded_oracle_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = 1000,
    mod: int = 13,
) -> str:
    """bounded_labels_gate's DuckDB twin over the UNCHANGED
    full-recompute recursive CTE (shared scaffolds: _cc_closure_sql +
    functions/gates.bounded_tail_sql)."""
    from tabsketchfm_spark.functions.gates import bounded_tail_sql

    pairs = ngram_jaccard_oracle_sql(
        table, id_col, text_col, n, threshold, df_cap
    )
    return _cc_closure_sql(pairs, table, id_col) + bounded_tail_sql(
        "labels", id_col, {"cid": "cluster_id", "size": "cluster_size"}, mod
    )


# ---------------------------------------------------------------------------
# semantic dedup (cluster-bounded embedding near-dup — SemDeDup shape)


def dedup_clusters_incremental(
    labels_old: DataFrame,
    delta_pairs: DataFrame,
    delta_nodes: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 12,
) -> DataFrame:
    """INCREMENTAL connected components — fold a delta batch's
    near-dup pairs into an EXISTING clustering without recomputing the
    corpus graph (the daily-crawl clustering shape: the incremental
    LSH store yields delta-vs-corpus pairs; this op folds them into
    yesterday's labels). Work scales with the DELTA: the corpus
    contributes one label row per node, never its edges.

    Correctness (the reason a bit-exact full-recompute gate exists):
    stored labels are component-MIN ids, so contracting every old
    component to its label node preserves connectivity classes, and
    the merged component's min over {old label ids, delta node ids}
    IS the global min id — the composed labels equal
    connected_components_star(all_pairs) exactly. The oracle for any
    registered consumer is therefore the UNCHANGED full-recompute
    recursive CTE (dedup_clusters_oracle_sql).

    Preconditions (validated loudly, one O(1)-output aggregate):
    ``labels_old`` has unique nodes, is closed under its own labels
    (every cluster_id appears as a node labelled by itself) and has
    ``cluster_id <= node`` on every row — necessary for the
    component-MIN property the proof rests on (full min-ness is the
    producing CC op's guarantee). Additionally the PAIR RELATION must
    be corpus-independent for the full-recompute equality to hold:
    ``ngram_jaccard_pairs``' DF prune (``df_cap``) computes document
    frequency over whatever corpus it is given, so labels built from
    old-corpus pairs compose exactly only with ``df_cap=None`` (or a
    DF computed against one fixed reference corpus).

    Inputs: labels_old (id_col, cluster_id), delta_pairs (id_a, id_b
    — each pair touches at least one delta node; old-old pairs are
    already represented by the labels), delta_nodes (id_col — the
    arriving batch, so isolated new docs get singleton clusters).
    Output: (id_col, cluster_id, cluster_size) over old ∪ delta
    nodes — same contract as dedup_clusters."""
    from pyspark.sql import Window

    lbl = labels_old.select(
        F.col(id_col).alias("node"), F.col("cluster_id").alias("lbl")
    ).persist()
    extra_caches: list = []
    try:
        # ONE aggregate validates three invariants (review finding:
        # a plain row-count closure check was bypassable by duplicate
        # or multi-labelled rows): (a) node uniqueness — duplicates
        # would emit conflicting cluster rows with wrong sizes;
        # (b) closure over DISTINCT labels — every cluster_id is a
        # node labelled by itself; (c) lbl <= node on every row — a
        # necessary condition for labels being component-MIN ids (the
        # property the composition proof rests on; full min-ness is
        # the producing CC op's guarantee).
        n_rows, n_nonnull, n_nodes, n_lbls, n_self_lbls, n_minviol = lbl.agg(
            F.count(F.lit(1)),
            # count("node")+count("lbl") over the same rows: a NULL in
            # either column would otherwise pass every check below and
            # silently DROP the node at the inner compose join
            F.sum(
                (F.col("node").isNotNull() & F.col("lbl").isNotNull()).cast(
                    "long"
                )
            ),
            F.countDistinct("node"),
            F.countDistinct("lbl"),
            F.countDistinct(
                F.when(F.col("node") == F.col("lbl"), F.col("lbl"))
            ),
            F.sum((F.col("lbl") > F.col("node")).cast("long")),
        ).first()
        if (n_nonnull or 0) != n_rows:
            raise ValueError(
                f"labels_old has {n_rows - (n_nonnull or 0)} row(s) with "
                "NULL node or cluster_id"
            )
        if n_rows != n_nodes:
            raise ValueError(
                f"labels_old has duplicate node rows ({n_rows} rows, "
                f"{n_nodes} distinct nodes)"
            )
        if (n_self_lbls or 0) != (n_lbls or 0):
            raise ValueError(
                "labels_old is not label-closed: every cluster_id must "
                f"be a node labelled by itself ({n_lbls} labels, "
                f"{n_self_lbls} self-labelled)"
            )
        if (n_minviol or 0) != 0:
            raise ValueError(
                f"labels_old has {n_minviol} row(s) with cluster_id > "
                "node id — labels must be component-MIN ids for the "
                "incremental composition to equal the full recompute"
            )
        # contract delta pair endpoints through the old labels
        # (unknown endpoints — new docs — map to themselves)
        pe = delta_pairs.select(
            F.col(id_a).alias("pa"), F.col(id_b).alias("pb")
        )
        # arrival discipline, checked LOUDLY in this call (one
        # delta-sized count): every pair endpoint must be a known old
        # node or part of the arriving batch. A pair naming a
        # not-yet-arrived doc would contract to an id with no label
        # row — it can become a component's min label and poison the
        # closure invariant the NEXT update depends on.
        delta_n = delta_nodes.select(F.col(id_col).alias("node"))
        # same loudness as the labels_old NULL check: a NULL id here
        # would ride coalesce(lbl, node) into a NULL lbl and silently
        # vanish at the inner compose join on roots
        n_null_delta = delta_n.where(F.col("node").isNull()).count()
        if n_null_delta:
            raise ValueError(
                f"delta_nodes has {n_null_delta} row(s) with NULL id"
            )
        known = lbl.select("node").unionByName(delta_n)
        n_unknown = (
            pe.select(F.col("pa").alias("node"))
            .unionByName(pe.select(F.col("pb").alias("node")))
            .distinct()
            .join(known, "node", "left_anti")
            .count()
        )
        if n_unknown:
            raise ValueError(
                f"delta_pairs reference {n_unknown} node(s) that are "
                "neither labelled nor in delta_nodes — pairs may only "
                "name arrived docs (old corpus ∪ this batch)"
            )
        pe = (
            pe.join(
                lbl.select(F.col("node").alias("pa"), F.col("lbl").alias("la")),
                "pa",
                "left",
            )
            .join(
                lbl.select(F.col("node").alias("pb"), F.col("lbl").alias("lb")),
                "pb",
                "left",
            )
            .select(
                F.coalesce("la", "pa").alias("id_a"),
                F.coalesce("lb", "pb").alias("id_b"),
            )
        )
        # delta ids mapped through old labels — defined once and
        # PERSISTED (a re-crawled known doc contributes its
        # component's label node; a new doc maps to itself); two
        # consumers — the contracted node set and the final universe —
        # would otherwise each re-run the delta-sized join
        mapped = (
            delta_n.join(lbl, "node", "left")
            .select("node", F.coalesce("lbl", "node").alias("lbl"))
            .persist()
        )
        extra_caches.append(mapped)
        # the contracted universe: one node per old component + the
        # arriving batch (so isolated delta docs keep singleton labels)
        contracted_nodes = (
            lbl.select(F.col("lbl").alias("node"))
            .unionByName(mapped.select(F.col("lbl").alias("node")))
            .distinct()
        )
        roots = connected_components_star(
            pe,
            contracted_nodes,
            node_col="node",
            max_iter=max_iter,
        ).select(F.col("node").alias("lbl"), F.col("cluster_id").alias("root"))
        # compose: every old or delta node → root(label(node))
        universe = (
            lbl.select("node", "lbl").unionByName(mapped).distinct()
        )
        out = universe.join(roots, "lbl").select(
            F.col("node").alias(id_col), F.col("root").alias("cluster_id")
        )
        size_w = F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
        # materialize before releasing the label cache the plan reads
        final = out.select(id_col, "cluster_id", size_w.alias("cluster_size"))
        final = final.localCheckpoint()
        return final
    finally:
        lbl.unpersist()
        for c in extra_caches:
            c.unpersist()


_CLUSTER_STORE_FORMAT = "tsfm-cluster-store-v1"


def _cluster_manifest(path: str) -> dict:
    from tabsketchfm_spark.sources.store_util import read_manifest

    m = read_manifest(path)
    if m.get("format") != _CLUSTER_STORE_FORMAT:
        raise IOError(
            f"store at {path} is {m.get('format')!r}, not a cluster store"
        )
    return m


def cluster_store_init(spark, labels: DataFrame, path: str) -> None:
    """Bootstrap the persisted clustering state: (doc_id, cluster_id)
    labels land in a fresh ``state_000000`` subdir (executor-side
    parquet — labels are ROW-scale, never a driver collect), then the
    manifest commits atomically. The store-family contract throughout:
    writer lease, pointer flip, deferred GC on update."""
    import os
    import shutil
    import uuid

    from tabsketchfm_spark.sources.store_util import (
        read_manifest,
        safe_subdir,
        write_manifest,
        writer_lease,
    )

    with writer_lease(path, owner="cluster_store_init"):
        # re-init over an existing store must not overwrite the live
        # state dir IN PLACE (torn mixed-generation reads; a crashed
        # write leaves the manifest pointing at garbage) — write a
        # fresh unique dir, the build_signature_store pattern
        try:
            old_manifest = read_manifest(path)
        except (OSError, ValueError):
            old_manifest = None  # fresh store, or corrupt manifest being reset
        if (
            old_manifest is not None
            and old_manifest.get("format") != _CLUSTER_STORE_FORMAT
        ):
            # a PARSEABLE manifest of another store family (signature /
            # IVF-PQ / ...) means the caller mistyped the path — re-init
            # would replace that store's manifest and strand its data
            raise IOError(
                f"store at {path} is {old_manifest.get('format')!r}, "
                "not a cluster store — refusing to re-init over it"
            )
        old_live = old_manifest.get("state_dir") if old_manifest else None
        # a corrupt live pointer (nested/'..'/absolute) would never
        # string-equal a listdir entry, so the sweep below would delete
        # the genuinely live generation (the _sweep_retired_sig_data
        # class) — refuse the sweep and don't record the unusable value
        sweep_ok = True
        if old_live is not None and safe_subdir(path, old_live, "state_") is None:
            old_live = None
            sweep_ok = False
        state_dir = f"state_init_{uuid.uuid4().hex[:8]}"
        labels.select("doc_id", "cluster_id").write.mode("overwrite").parquet(
            f"{path}/{state_dir}"
        )
        manifest = {
            "format": _CLUSTER_STORE_FORMAT,
            "n_updates": 0,
            "state_dir": state_dir,
        }
        if old_live:
            # deferred one-cycle GC: a reader's lazy frame pinned to
            # the superseded state can finish; the NEXT update sweeps it
            manifest["retired_state_dir"] = old_live
        write_manifest(path, manifest)
        # prior state_* generations other than the new live and the
        # just-retired one are orphans a fresh manifest would otherwise
        # strand FOREVER (no later update ever names them) — under the
        # lease, with the manifest committed, they are provably dead
        if sweep_ok:
            for entry in os.listdir(path):
                full = os.path.join(path, entry)
                if (
                    entry.startswith("state_")
                    and entry != state_dir
                    and entry != old_live
                    and os.path.isdir(full)
                ):
                    shutil.rmtree(full, ignore_errors=True)


def cluster_store_read(spark, path: str) -> DataFrame:
    """(doc_id, cluster_id) from the live state generation."""
    m = _cluster_manifest(path)
    return spark.read.parquet(f"{path}/{m['state_dir']}")


def cluster_store_update(
    spark,
    delta_pairs: DataFrame,
    delta_nodes: DataFrame,
    path: str,
    max_iter: int = 12,
) -> DataFrame:
    """One arriving batch folds into the PERSISTED clustering: read
    the stored labels, run dedup_clusters_incremental (work scales
    with the delta — the corpus contributes one label row per node),
    commit the composed labels as a fresh ``state_<n>`` subdir, flip
    the manifest. Completes the daily-crawl loop the signature store
    begins: ingest → delta-vs-corpus pairs → cluster-state update.

    GC is the DEFERRED one-cycle rule (store-family invariant): the
    superseded state dir is retired in the manifest and swept on the
    NEXT update, so a reader's lazy frame pinned to it can finish its
    scan. Returns the composed (doc_id, cluster_id, cluster_size) —
    already materialized (localCheckpoint) by the incremental op, so
    the returned frame never depends on a sweepable state dir."""
    import os
    import shutil

    from tabsketchfm_spark.sources.store_util import (
        safe_subdir,
        write_manifest,
        writer_lease,
    )

    with writer_lease(path, owner="cluster_store_update", require_store=True):
        m = _cluster_manifest(path)
        retired = m.get("retired_state_dir")
        if retired and retired != m["state_dir"]:
            # path-validated (corrupt-manifest hardening, shared rule):
            # never rmtree the live state, the store root, or beyond
            target = safe_subdir(path, retired, "state_")
            if target is not None:
                shutil.rmtree(target, ignore_errors=True)
        labels_old = cluster_store_read(spark, path)
        out = dedup_clusters_incremental(
            labels_old, delta_pairs, delta_nodes, max_iter=max_iter
        )
        n = int(m["n_updates"]) + 1
        state_dir = f"state_{n:06d}"
        out.select("doc_id", "cluster_id").write.mode("overwrite").parquet(
            f"{path}/{state_dir}"
        )
        write_manifest(
            path,
            {
                **m,
                "n_updates": n,
                "state_dir": state_dir,
                "retired_state_dir": m["state_dir"],
            },
        )
        return out


def compact_cluster_labels(labels: DataFrame, keep_pred: str) -> DataFrame:
    """Label-store RETENTION (round-9 verdict item 6): expire rows the
    horizon predicate rejects while PRESERVING the closure invariant
    dedup_clusters_incremental validates — each surviving cluster is
    re-minimized to the smallest SURVIVING member id, so every
    cluster_id is again a self-labelled node with cluster_id <= node.

    Semantics: the historical transitive closure RESTRICTED to
    survivors — two surviving docs that were connected only through an
    expired doc STAY in one cluster (cluster knowledge outlives the
    raw pairs, matching the signature store's horizon: expired docs
    stop generating pairs, but what they already merged stays merged).
    That is deliberately NOT a recompute on the surviving corpus,
    which would forget those merges. Output: (doc_id, cluster_id) —
    sizes are a read-side projection."""
    surv = labels.select("doc_id", "cluster_id").where(keep_pred)
    remin = surv.groupBy("cluster_id").agg(F.min("doc_id").alias("_new_cid"))
    return surv.join(remin, "cluster_id").select(
        "doc_id", F.col("_new_cid").alias("cluster_id")
    )


def cluster_store_compact(spark, path: str, keep_pred: str) -> DataFrame:
    """Apply compact_cluster_labels to the PERSISTED clustering state:
    read the live labels, expire by ``keep_pred`` (a predicate over
    doc_id — the dedup horizon), re-minimize, commit a fresh state
    generation. Store-family contract: writer lease, atomic pointer
    flip, deferred one-cycle GC of the superseded state. Returns the
    compacted (doc_id, cluster_id, cluster_size), localCheckpoint-
    materialized so it never depends on a sweepable state dir."""
    import shutil

    from pyspark.sql import Window

    from tabsketchfm_spark.sources.store_util import (
        safe_subdir,
        write_manifest,
        writer_lease,
    )

    with writer_lease(path, owner="cluster_store_compact", require_store=True):
        m = _cluster_manifest(path)
        retired = m.get("retired_state_dir")
        if retired and retired != m["state_dir"]:
            target = safe_subdir(path, retired, "state_")
            if target is not None:
                shutil.rmtree(target, ignore_errors=True)
        compacted = compact_cluster_labels(
            cluster_store_read(spark, path), keep_pred
        )
        n = int(m["n_updates"]) + 1
        state_dir = f"state_{n:06d}"
        compacted.write.mode("overwrite").parquet(f"{path}/{state_dir}")
        write_manifest(
            path,
            {
                **m,
                "n_updates": n,
                "state_dir": state_dir,
                "retired_state_dir": m["state_dir"],
            },
        )
        size_w = F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
        out = cluster_store_read(spark, path).select(
            "doc_id", "cluster_id", size_w.alias("cluster_size")
        )
        return out.localCheckpoint()


def retention_sweep(
    spark, sig_path: str, cluster_path: str, sig_keep: str, label_keep: str
) -> DataFrame:
    """ONE maintenance call expires BOTH daily-crawl stores by the
    same horizon — the composition that keeps them consistent: a doc
    aged out of the signature store must also leave the label store
    (else it keeps a cluster row forever), and expiring labels without
    expiring signatures would let a dead doc keep matching new deltas.
    ``sig_keep`` is a predicate over the signature row (id or
    ingest_ts), ``label_keep`` over doc_id — callers pass the SAME
    horizon in both vocabularies. Returns the compacted labels (the
    cluster_store_compact return)."""
    compact_signature_store(spark, sig_path, keep_pred=sig_keep)
    return cluster_store_compact(spark, cluster_path, label_keep)


def crawl_store_consistency(
    spark,
    sig_path: str,
    cluster_path: str,
    n: int = 3,
    num_perm: int = 100,
) -> DataFrame:
    """One-row cross-store audit of the daily-crawl pair: label ids
    vs stored signature ids, via ONE full outer join + one aggregate.
    The invariant a same-horizon retention_sweep must preserve:
    ``n_orphan_sigs == 0`` (every signature's doc is labeled — an
    orphan signature would let an expired/unknown doc keep matching
    and even MIN-label new clusters). ``n_unsigned_labels`` counts
    labeled docs WITHOUT signatures — legitimately positive (docs too
    short to shingle carry labels but no signature). Id checksums pin
    the exact membership, not just the counts."""
    from tabsketchfm_spark.sources.store_util import read_manifest

    caches: list = []
    try:
        sig_ids = (
            # id-only audit — scheme-AGNOSTIC like compaction: accept
            # whatever tokenizer the store carries (a re-shingled
            # store must stay auditable)
            _read_signature_store(
                spark,
                sig_path,
                n,
                num_perm,
                caches,
                tokenizer_hash=read_manifest(sig_path).get("tokenizer_hash"),
            )
            .select(F.col("id").alias("doc_id"))
            .distinct()
            .withColumn("has_sig", F.lit(1))
        )
        lbl_ids = (
            cluster_store_read(spark, cluster_path)
            .select("doc_id")
            .withColumn("has_lbl", F.lit(1))
        )
        j = lbl_ids.join(sig_ids, "doc_id", "full").select(
            "doc_id",
            F.coalesce("has_lbl", F.lit(0)).alias("l"),
            F.coalesce("has_sig", F.lit(0)).alias("s"),
        )
        out = j.agg(
            F.sum("l").alias("n_labels"),
            F.sum("s").alias("n_sigs"),
            F.sum(F.col("s") * (1 - F.col("l"))).alias("n_orphan_sigs"),
            F.sum(F.col("l") * (1 - F.col("s"))).alias("n_unsigned_labels"),
            F.sum(F.col("doc_id") * F.col("l")).alias("sum_label_ids"),
            F.sum(F.col("doc_id") * F.col("s")).alias("sum_sig_ids"),
        )
        # materialize before releasing the sig cache the plan reads
        return out.localCheckpoint()
    finally:
        for c in caches:
            c.unpersist()


def crawl_retention_consistency_oracle_sql(
    table: str,
    label_keep_sql: str,
    sig_keep_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> str:
    """crawl_store_consistency's twin after a retention_sweep over a
    store pair built from the FULL corpus: surviving labels = the keep
    slice of all docs; surviving signatures = the keep slice of the
    SHINGLE-ELIGIBLE docs (a doc with fewer than ``n`` tokens never
    had a signature — the sh CTE is the one eligibility rule)."""
    return f"""
WITH {_shingles_cte_duckdb(table, id_col, text_col, n)},
lbl AS (SELECT {id_col} AS doc_id FROM {table} WHERE {label_keep_sql}),
sig AS (SELECT DISTINCT id AS doc_id FROM sh
        WHERE {sig_keep_sql}),
j AS (SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
             CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END AS l,
             CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS s
      FROM lbl l FULL JOIN sig s ON l.doc_id = s.doc_id)
SELECT CAST(sum(l) AS BIGINT) AS n_labels,
       CAST(sum(s) AS BIGINT) AS n_sigs,
       CAST(sum(s * (1 - l)) AS BIGINT) AS n_orphan_sigs,
       CAST(sum(l * (1 - s)) AS BIGINT) AS n_unsigned_labels,
       CAST(sum(doc_id * l) AS BIGINT) AS sum_label_ids,
       CAST(sum(doc_id * s) AS BIGINT) AS sum_sig_ids
FROM j
"""


def cluster_labels_compact_oracle_sql(
    table: str,
    keep_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = 1000,
    bounded_mod: int | None = None,
) -> str:
    """compact_cluster_labels over the full-recompute labels, in
    DuckDB: filter survivors, re-minimize per cluster, recount sizes.
    ``keep_sql`` is the keep predicate over ``{id_col}``. With
    ``bounded_mod``, wraps in the bounded_labels_gate twin."""
    from tabsketchfm_spark.functions.gates import bounded_tail_sql

    pairs = ngram_jaccard_oracle_sql(
        table, id_col, text_col, n, threshold, df_cap
    )
    body = _cc_closure_sql(pairs, table, id_col) + f""",
surv AS (SELECT * FROM labels WHERE {keep_sql}),
remin AS (SELECT cluster_id AS old_cid, min({id_col}) AS new_cid
          FROM surv GROUP BY cluster_id),
relab AS (SELECT s.{id_col}, r.new_cid AS cluster_id
          FROM surv s JOIN remin r ON s.cluster_id = r.old_cid),
clabels AS (SELECT {id_col}, cluster_id,
                   count(*) OVER (PARTITION BY cluster_id) AS cluster_size
            FROM relab)"""
    if bounded_mod is None:
        return body + "\nSELECT * FROM clabels\n"
    return body + bounded_tail_sql(
        "clabels",
        id_col,
        {"cid": "cluster_id", "size": "cluster_size"},
        bounded_mod,
    )


def semantic_dedup(
    emb: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-bounded embedding near-dup (the SemDeDup scale shape,
    Abbas et al. 2023): assign every vector to its nearest coarse
    centroid, then find cosine >= threshold pairs ONLY within a
    cluster. vector.embedding_near_dups is the RH-LSH bucketed twin
    (and embedding_near_dups_bruteforce the all-pairs test form); this
    variant bounds the quadratic term to the largest cluster, which is
    what makes embedding dedup feasible at corpus scale.

    Quantizer: the deterministic sampled quantizer from operators/ivf
    (first n_cells vectors by id) so the DuckDB oracle reproduces the
    assignment bit-exactly; swap in ivf.ivf_kmeans centroids for the
    production balanced variant.

    Scale shape: assignment is a narrow projection against a
    BROADCAST centroid table (no shuffle); the pair join is an
    equi-join on cell id — shuffle hash join, AQE skew-split on hot
    cells — never a crossJoin of the lake.

    Output: (cell, id_a, id_b, cos).
    """
    from tabsketchfm_spark.functions.vector import dot_sql
    from tabsketchfm_spark.operators.ivf import _centroids, _nearest_cells
    from tabsketchfm_spark.operators.vector import _unit

    units = _unit(emb, {"id": F.col(id_col)}, vec_col)
    cents = _centroids(units, n_cells)
    # consumed by both sides of the cell self-join
    assigned = _nearest_cells(units, cents, 1).select("id", "u", "cell").persist()
    a = assigned.select("cell", F.col("id").alias("id_a"), F.col("u").alias("ua"))
    b = assigned.select("cell", F.col("id").alias("id_b"), F.col("u").alias("ub"))
    pairs = a.join(b, "cell").where(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select("cell", "id_a", "id_b", F.expr(dot_sql("ua", "ub")).alias("cos"))
        .where(F.col("cos") >= threshold)
        .select("cell", "id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def semantic_dedup_oracle_sql(
    table: str, n_cells: int = 16, threshold: float = 0.85
) -> str:
    from tabsketchfm_spark.operators.vector import _unit_cte_duckdb

    return f"""
WITH un AS ({_unit_cte_duckdb(table)}),
cents AS (SELECT vec_id AS cell, u AS cu FROM un WHERE vec_id < {n_cells}),
assigned AS (
  SELECT vec_id AS id, u, cell FROM (
    SELECT v.vec_id, v.u, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY list_dot_product(v.u, c.cu) DESC, c.cell)
             AS rn
    FROM un v CROSS JOIN cents c) t
  WHERE rn = 1)
SELECT a.cell, a.id AS id_a, b.id AS id_b,
       round(list_dot_product(a.u, b.u), 6) AS cos
FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.id < b.id
WHERE list_dot_product(a.u, b.u) >= {threshold}
"""


def cluster_size_histogram(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Duplication-structure summary: the size distribution of near-dup
    clusters — the one-line health metric of a corpus ("how much mass
    sits in duplicate clusters of size k"). Composes dedup_clusters
    with one grouped count; the deduplicated-corpus size is
    Σ n_clusters, and Σ (size−1)·n_clusters rows would be dropped.
    Output: (cluster_size, n_clusters, n_docs)."""
    cc = dedup_clusters(df, id_col, text_col, n, threshold)
    # dedup_clusters already carries cluster_size per row — one
    # aggregation derives both counts (a size-s cluster contributes
    # exactly s rows, so n_clusters = n_docs / s, exact)
    return (
        cc.groupBy(F.col("cluster_size").cast("int").alias("cluster_size"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "cluster_size",
            (F.col("n_docs") / F.col("cluster_size")).cast("bigint").alias("n_clusters"),
            "n_docs",
        )
    )


def cluster_size_histogram_oracle_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> str:
    base = dedup_clusters_oracle_sql(table, id_col, text_col, n, threshold)
    return f"""
WITH cc AS ({base}),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1)
SELECT CAST(cluster_size AS INTEGER) AS cluster_size,
       count(*) AS n_clusters,
       cluster_size * count(*) AS n_docs
FROM sizes GROUP BY cluster_size
"""

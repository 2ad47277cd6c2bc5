"""Property tests (SURVEY §5): MinHash estimates track exact Jaccard
within the statistical bound; determinism of seeded sketches."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tabsketchfm_spark.operators.minhash import (
    minhash_jaccard_estimate,
    minhash_signatures,
    oph_jaccard_estimate,
    oph_signatures,
)
from tabsketchfm_spark.operators.setsim import jaccard_containment
from tabsketchfm_spark.sources.tables import load_table

PAIRS = [
    (("orders", "o_custkey"), ("customer", "c_custkey")),
    (("lineitem", "l_orderkey"), ("orders", "o_orderkey")),
    (("supplier", "s_nationkey"), ("customer", "c_nationkey")),
]


@pytest.mark.parametrize("left,right", PAIRS)
def test_minhash_estimate_tracks_exact(spark, sf001, left, right):
    ldf, rdf = load_table(spark, sf001, left[0]), load_table(spark, sf001, right[0])
    exact = jaccard_containment(ldf, left, rdf, right).first().jaccard
    qs = minhash_signatures(ldf, left[0], [left[1]])
    cs = minhash_signatures(rdf, right[0], [right[1]])
    est = minhash_jaccard_estimate(qs, cs).first().est_jaccard
    # 100 perms: σ = sqrt(j(1-j)/100) <= 0.05; allow 3.5σ
    bound = 3.5 * math.sqrt(max(exact * (1 - exact), 0.01) / 100)
    assert abs(est - exact) <= bound, (exact, est)


@pytest.mark.parametrize("left,right", PAIRS[:2])
def test_oph_estimate_tracks_exact(spark, sf001, left, right):
    ldf, rdf = load_table(spark, sf001, left[0]), load_table(spark, sf001, right[0])
    exact = jaccard_containment(ldf, left, rdf, right).first().jaccard
    qs = oph_signatures(ldf, left[0], [left[1]])
    cs = oph_signatures(rdf, right[0], [right[1]])
    est = oph_jaccard_estimate(qs, cs).first().est_jaccard
    # OPH on smallish sets: looser bound (empty-bucket bias)
    assert abs(est - exact) <= 0.2, (exact, est)


def test_minhash_deterministic(spark, sf001):
    df = load_table(spark, sf001, "customer")
    s1 = {(r.perm, r.sig) for r in minhash_signatures(df, "c", ["c_custkey"]).collect()}
    s2 = {(r.perm, r.sig) for r in minhash_signatures(df, "c", ["c_custkey"]).collect()}
    assert s1 == s2


def test_minhash_partition_invariant(spark, sf001):
    """Sketches must not depend on physical layout (SURVEY §7.5 risk 6)."""
    df = load_table(spark, sf001, "customer")
    s1 = {(r.perm, r.sig) for r in minhash_signatures(df, "c", ["c_name"]).collect()}
    s2 = {
        (r.perm, r.sig)
        for r in minhash_signatures(df.repartition(7), "c", ["c_name"]).collect()
    }
    assert s1 == s2


def _topk_sets(df):
    """{q_id: set of cand_id} from a (q_id, rank, cand_id, cos) frame."""
    out = {}
    for r in df.collect():
        out.setdefault(r.q_id, set()).add(r.cand_id)
    return out


@pytest.mark.parametrize("variant", ["deterministic", "exact_trained"])
def test_ivf_recall_vs_brute_force(spark, sf001, variant):
    """IVF probing 1/4 of the cells must still recover most true
    neighbors (recall@5 >= 0.5 overall on the synthetic embeddings —
    cell-local structure keeps true neighbors in probed cells)."""
    from tabsketchfm_spark.operators.ivf import ivf_topk
    from tabsketchfm_spark.operators.kmeans import ivf_kmeans_exact_topk
    from tabsketchfm_spark.operators.vector import cosine_topk

    emb = load_table(spark, sf001, "embeddings")
    truth = _topk_sets(cosine_topk(emb, 10, k=5))
    fn = {
        "deterministic": ivf_topk,
        "exact_trained": ivf_kmeans_exact_topk,
    }[variant]
    approx = _topk_sets(fn(emb, 10, k=5, n_cells=16, n_probe=4))
    hits = sum(len(truth[q] & approx.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.5, f"IVF({variant}) recall {hits}/{total}"


def test_kmeans_exact_matches_python_replay(spark, sf001):
    """Implementation-pin twin for the integer Lloyd's: a plain python
    fold (left-to-right float norm — the same order Spark's aggregate
    and DuckDB's list_dot_product use — then pure-int quantize / init /
    assign / floor-div update) reproduces the distributed fit's final
    assignment exactly. Trainer, not oracle: this catches a bug that a
    mirrored Spark/DuckDB pair would hide."""
    import math

    from tabsketchfm_spark.operators.kmeans import (
        N_CELLS,
        N_ITERS,
        SCALE,
        kmeans_assign_exact,
    )

    emb = load_table(spark, sf001, "embeddings")
    vecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }
    q = {}
    for i, v in vecs.items():
        acc = 0.0
        for x in v:
            acc += x * x
        nrm = math.sqrt(acc)
        q[i] = [int(math.floor(x / nrm * 1024.0 + 0.5)) for x in v]
    assert SCALE == 1024
    dim = len(next(iter(q.values())))

    m = {c: list(q[c]) for c in range(N_CELLS)}

    def assign(qv):
        best = None
        for c in sorted(m):
            b = sum(x * x for x in m[c]) - 2 * sum(
                a * b_ for a, b_ in zip(qv, m[c])
            )
            if best is None or b < best[0]:
                best = (b, c)
        return best[1]

    for _ in range(N_ITERS):
        sums = {}
        for i, qv in q.items():
            c = assign(qv)
            s, n = sums.setdefault(c, ([0] * dim, [0]))
            n[0] += 1
            for j, x in enumerate(qv):
                s[j] += x
        for c, (s, n) in sums.items():
            m[c] = [(2 * sj + n[0]) // (2 * n[0]) for sj in s]

    expect = sorted((i, assign(qv)) for i, qv in q.items())
    got = sorted(map(tuple, kmeans_assign_exact(emb).collect()))
    assert got == expect


def test_streaming_minibatch_kmeans_matches_python_replay(spark, sf001):
    """Implementation-pin twin for the ORDER-SENSITIVE streaming
    learner: a plain python fold (quantize, seed state, arithmetic
    buckets in ascending order, assign-against-previous-centroids,
    cumulative floor-div update) reproduces the streamed run's
    (batch, cell, n_batch, n_cum) rows exactly — pinning the
    mtime-ordered delivery AND the state algebra independently of the
    DuckDB mirror (an oracle-mirrored bug is invisible to parity)."""
    import math

    from tabsketchfm_spark.operators.kmeans import N_BATCHES, N_CELLS
    from tabsketchfm_spark.streaming.profile_stream import (
        streaming_kmeans_minibatch,
    )

    emb = load_table(spark, sf001, "embeddings")
    vecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }
    q = {}
    for i, v in vecs.items():
        acc = 0.0
        for x in v:
            acc += x * x
        nrm = math.sqrt(acc)
        q[i] = [int(math.floor(x / nrm * 1024.0 + 0.5)) for x in v]
    dim = len(next(iter(q.values())))
    width = max(q) // N_BATCHES + 1

    state = {c: (list(q[c]), 1) for c in range(N_CELLS)}
    expect = []
    for b in range(N_BATCHES):
        m = {
            c: [(2 * sj + n) // (2 * n) for sj in s]
            for c, (s, n) in state.items()
        }

        def assign(qv):
            best = None
            for c in sorted(m):
                bv = sum(x * x for x in m[c]) - 2 * sum(
                    a * b_ for a, b_ in zip(qv, m[c])
                )
                if best is None or bv < best[0]:
                    best = (bv, c)
            return best[1]

        sums = {}
        for i in sorted(q):
            if i // width != b:
                continue
            c = assign(q[i])
            s, n = sums.setdefault(c, ([0] * dim, [0]))
            n[0] += 1
            for j, x in enumerate(q[i]):
                s[j] += x
        state = {
            c: (
                [sj + sums.get(c, ([0] * dim, [0]))[0][j] for j, sj in enumerate(s)],
                n + sums.get(c, ([0] * dim, [0]))[1][0],
            )
            for c, (s, n) in state.items()
        }
        expect.extend(
            (b, c, sums.get(c, ([], [0]))[1][0], state[c][1])
            for c in sorted(state)
        )

    got = sorted(map(tuple, streaming_kmeans_minibatch(spark, sf001).collect()))
    assert got == sorted(expect)


def test_kmeans_store_lifecycle(spark, sf001):
    """The persisted-centroid-store learner: (1) the store-backed run
    over the arithmetic buckets completes with one row per
    (batch, cell) — its bit-exact contract vs the streaming twin is
    carried by the shared oracle row in the parity sweep; (2) cold
    start seeds from the first batch; (3) the manifest guards
    parameter mismatch; (4) a second update folds counts monotonically
    and bumps the version."""
    import shutil
    import tempfile

    from tabsketchfm_spark.operators import kmeans as km

    # NOTE: store-run == streaming-twin equality holds by transitivity
    # — both carry the SAME DuckDB oracle row (bit-exact each), so
    # re-running the streaming learner here would duplicate a check
    # the parity sweep already makes twice.
    got = km.kmeans_store_run(spark, sf001).collect()
    assert len(got) == km.N_BATCHES * km.N_CELLS

    emb = load_table(spark, sf001, "embeddings").select("vec_id", "embedding")
    d = tempfile.mkdtemp(prefix="tsfm_kms_test_")
    try:
        shutil.rmtree(d)  # store dir must not pre-exist for cold start
        out1 = km.kmeans_store_update(spark, emb, d)
        st1, n1 = km.kmeans_store_read(spark, d)
        assert n1 == 1 and len(st1) == km.N_CELLS
        assert {c for c, _nb, _nc in out1} == set(st1)
        with pytest.raises(IOError):
            km.kmeans_store_read(spark, d, k=km.N_CELLS + 1)
        out2 = km.kmeans_store_update(spark, emb, d)
        st2, n2 = km.kmeans_store_read(spark, d)
        assert n2 == 2
        # counts accumulate: every cell's cumulative n grows by its
        # batch contribution (same batch fed twice)
        for (c1, nb1, nc1), (c2, nb2, nc2) in zip(sorted(out1), sorted(out2)):
            assert c1 == c2 and nc2 == nc1 + nb2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_ordered_bucket_feed_delivers_empty_buckets(spark):
    """An id GAP must deliver a zero-row micro-batch in its slot —
    later batches' ids must keep equaling their bucket index, and the
    order-sensitive learners' state must tick through the empty batch
    exactly like the batch store run and the oracle replay do (the
    bare glob unpack used to crash here)."""
    import shutil

    from tabsketchfm_spark.streaming.profile_stream import (
        _assert_bucket_order,
        _ordered_bucket_feed,
    )

    df = spark.createDataFrame(
        [(i, f"t{i}") for i in list(range(5)) + list(range(20, 25))],
        "doc_id bigint, text string",
    )
    n, width = 3, 24 // 3 + 1  # bucket 1 ([9, 18)) is empty
    feed, feed_dir, stage_dir = _ordered_bucket_feed(
        spark, df, "doc_id", n, width, "tsfm_gap_test_"
    )
    seen = []

    def sink(batch_df, batch_id):
        _assert_bucket_order(batch_df, "doc_id", width, batch_id)
        seen.append((int(batch_id), batch_df.count()))

    try:
        q = (
            feed.writeStream.foreachBatch(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)
        shutil.rmtree(stage_dir, ignore_errors=True)
    assert sorted(seen) == [(0, 5), (1, 0), (2, 5)]


def test_ivfpq_index_store_roundtrip(spark, sf001):
    """The persisted ANN index: (1) served-from-store search equals the
    fit-and-search query row for row (the stored integers ARE the
    fitted ones); (2) loaded centroids/codebooks round-trip exactly;
    (3) a parameter-mismatched manifest refuses to load."""
    import json
    import shutil
    import tempfile

    from tabsketchfm_spark.operators import pq as pq_op

    emb = load_table(spark, sf001, "embeddings")
    d = tempfile.mkdtemp(prefix="tsfm_idx_test_")
    try:
        pq_op.save_ivfpq_index(spark, emb, d)
        mc0, cb0 = pq_op.ivfpq_fit(emb)
        mc, cb, codes = pq_op.load_ivfpq_index(spark, d)
        assert mc == mc0 and cb == cb0
        direct = sorted(
            map(tuple, pq_op.ivfpq_adc_topk(emb, 10, k=5).collect())
        )
        served = sorted(
            map(tuple, pq_op.ivfpq_stored_topk(spark, d, emb, 10, k=5).collect())
        )
        assert served == direct and len(served) > 0
        mp = d + "/_manifest.json"
        m = json.load(open(mp))
        m["k_pq"] = 999
        json.dump(m, open(mp, "w"))
        with pytest.raises(IOError):
            pq_op.load_ivfpq_index(spark, d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_ivfpq_drift_counts_are_consistent(spark, sf001):
    """The drift diagnostic's integer contract: a delta that IS a
    corpus subset has delta_cnt <= corpus_cnt everywhere; every
    subspace's corpus counts (and the coarse-cell row group) sum to
    the valid population, and the delta sums to the subset size."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from tabsketchfm_spark.operators import kmeans as km
    from tabsketchfm_spark.operators import pq as pq_op

    emb = load_table(spark, sf001, "embeddings")
    d = tempfile.mkdtemp(prefix="tsfm_drift_test_")
    try:
        pq_op.save_ivfpq_index(spark, emb, d)
        delta = emb.where(F.col("vec_id") % 5 == 0)
        rows = pq_op.ivfpq_index_drift(spark, d, delta).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    n_corpus = km.valid_rows(emb).count()
    n_delta = km.valid_rows(delta).count()
    assert all(r["delta_cnt"] <= r["corpus_cnt"] for r in rows)
    groups = sorted({r["s"] for r in rows})
    assert groups == [-1] + list(range(pq_op.S_SUB))
    for s in groups:
        assert sum(r["corpus_cnt"] for r in rows if r["s"] == s) == n_corpus
        assert sum(r["delta_cnt"] for r in rows if r["s"] == s) == n_delta


def test_perceptron_store_lifecycle(spark, sf001):
    """The persisted-weight learner: (1) the store-backed bucket run
    reproduces an independent python fold of the SAME batch-sequential
    algebra (warm-started epochs per arithmetic bucket); (2) cold
    start is the zero vector; (3) the manifest guards mismatch; (4) a
    second update warm-starts from the committed weights."""
    import shutil
    import tempfile

    from tabsketchfm_spark.operators import classifier as qc
    from tabsketchfm_spark.operators.classifier import (
        perceptron_store_read,
        perceptron_store_run,
        perceptron_store_update,
    )

    docs = load_table(spark, sf001, "documents").select("doc_id", "text")
    feat_rows = [
        r.asDict() for r in qc.quality_features(docs).collect()
    ]
    dim = qc.N_BUCKETS + 1
    n_batches, epochs = 3, 2
    width = max(r["id"] for r in feat_rows) // n_batches + 1

    def fold(rows, w, n_epochs):
        for _ in range(n_epochs):
            g = [0] * dim
            for r in rows:
                x = [r[f"x{j}"] for j in range(dim)]
                if r["y"] * sum(w[j] * x[j] for j in range(dim)) <= 0:
                    for j in range(dim):
                        g[j] += r["y"] * x[j]
            w = [w[j] + g[j] for j in range(dim)]
        return w

    w = [0] * dim
    expect = []
    for b in range(n_batches):
        w = fold([r for r in feat_rows if r["id"] // width == b], w, epochs)
        expect.extend((b, j, w[j]) for j in range(dim))
    got = sorted(map(tuple, perceptron_store_run(spark, sf001).collect()))
    assert got == sorted(expect)

    d = tempfile.mkdtemp(prefix="tsfm_pstore_test_")
    try:
        shutil.rmtree(d)  # cold start requires an absent store
        w1 = perceptron_store_update(spark, docs, d, epochs=1)
        assert w1 == fold(feat_rows, [0] * dim, 1)
        r1, n1 = perceptron_store_read(spark, d)
        assert (r1, n1) == (w1, 1)
        # tamper setup OUTSIDE the raises block: an environmental
        # failure in the mutation must fail the test, not satisfy it
        # (round-8 review finding)
        import json
        import os

        mp = os.path.join(d, "_manifest.json")
        m = json.load(open(mp))
        m["n_buckets"] = qc.N_BUCKETS + 5
        json.dump(m, open(mp, "w"))
        with pytest.raises(IOError):
            perceptron_store_read(spark, d)
        # restore and warm-start a second update
        m["n_buckets"] = qc.N_BUCKETS
        json.dump(m, open(mp, "w"))
        w2 = perceptron_store_update(spark, docs, d, epochs=1)
        assert w2 == fold(feat_rows, w1, 1)
        _, n2 = perceptron_store_read(spark, d)
        assert n2 == 2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_bisecting_kmeans_partitions_valid_population(spark, sf01):
    """The divisive clustering must partition exactly the
    degenerate-filtered population into ids from the split-creation
    range 0..k-1. (Bit-level correctness and run-determinism are the
    parity row's job — the DuckDB replay re-derives every split; a
    second from-scratch training here would re-pay the whole fit for
    a strictly weaker check.)"""
    from tabsketchfm_spark.operators import kmeans as km

    # sf01: the SAME frame the parity row fits — one training serves
    # both via the bisect memo (a second sf would re-pay the 40-job
    # driver loop for no added coverage)
    emb = load_table(spark, sf01, "embeddings")
    rows = km.bisecting_kmeans_assign(emb).collect()
    by_cluster: dict[int, int] = {}
    for r in rows:
        by_cluster[r["cluster"]] = by_cluster.get(r["cluster"], 0) + 1
    assert set(by_cluster) <= set(range(km.N_CELLS))
    assert len(by_cluster) > 1  # it actually split
    n_valid = km.valid_rows(emb).count()
    assert len(rows) == n_valid
    assert len({r["vec_id"] for r in rows}) == n_valid


def test_pq_codes_match_python_replay(spark, sf001):
    """Implementation-pin twin for product quantization: a plain
    python fold (quantize, per-subspace smallest-id seeds, 3 Lloyd
    rounds with floor-div updates, argmin encoding) reproduces the
    distributed codes exactly — the trainer pin the oracle mirror
    can't give."""
    import math

    from tabsketchfm_spark.operators.pq import (
        D_SUB,
        ITERS_PQ,
        K_PQ,
        S_SUB,
        pq_codes,
    )

    emb = load_table(spark, sf001, "embeddings")
    vecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }
    q = {}
    for i, v in vecs.items():
        acc = 0.0
        for x in v:
            acc += x * x
        nrm = math.sqrt(acc)
        q[i] = [int(math.floor(x / nrm * 1024.0 + 0.5)) for x in v]

    sub = {i: [qv[s * D_SUB : (s + 1) * D_SUB] for s in range(S_SUB)] for i, qv in q.items()}
    m = {(s, c): list(sub[c][s]) for s in range(S_SUB) for c in range(K_PQ)}

    def assign(s, qs, cb):
        best = None
        for c in range(K_PQ):
            b = sum(x * x for x in cb[(s, c)]) - 2 * sum(
                a * b_ for a, b_ in zip(qs, cb[(s, c)])
            )
            if best is None or b < best[0]:
                best = (b, c)
        return best[1]

    for _ in range(ITERS_PQ):
        sums = {}
        for i in sorted(sub):
            for s in range(S_SUB):
                c = assign(s, sub[i][s], m)
                sv, n = sums.setdefault((s, c), ([0] * D_SUB, [0]))
                n[0] += 1
                for j, x in enumerate(sub[i][s]):
                    sv[j] += x
        new = dict(m)
        for (s, c), (sv, n) in sums.items():
            new[(s, c)] = [(2 * sj + n[0]) // (2 * n[0]) for sj in sv]
        m = new

    expect = sorted(
        (i, tuple(assign(s, sub[i][s], m) for s in range(S_SUB)))
        for i in sub
    )
    got = sorted(
        (r["vec_id"], tuple(r["codes"])) for r in pq_codes(emb).collect()
    )
    assert got == expect


def test_pq_adc_recall_beats_random(spark, sf001):
    """Honest recall pin for ADC search: top-5 overlap with exact
    cosine must beat the random-ranking baseline (~0.05 here) by a
    clear margin — the near-orthogonal synthetic embeddings cap it at
    a modest level (measured 0.2), which the docstring documents."""
    from tabsketchfm_spark.operators.pq import pq_adc_topk
    from tabsketchfm_spark.operators.vector import cosine_topk

    emb = load_table(spark, sf001, "embeddings")
    truth = _topk_sets(cosine_topk(emb, 10, k=5))
    approx = _topk_sets(pq_adc_topk(emb, 10, k=5))
    hits = sum(len(truth[q] & approx.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.1, f"ADC recall {hits}/{total}"


def test_ivfpq_adc_recall_beats_random(spark, sf001):
    """IVF-PQ probes 3/8 cells AND quantizes residuals — recall is
    capped by both; pin it above the random baseline (~0.05)."""
    from tabsketchfm_spark.operators.pq import ivfpq_adc_topk
    from tabsketchfm_spark.operators.vector import cosine_topk

    emb = load_table(spark, sf001, "embeddings")
    truth = _topk_sets(cosine_topk(emb, 10, k=5))
    approx = _topk_sets(ivfpq_adc_topk(emb, 10, k=5))
    hits = sum(len(truth[q] & approx.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.1, f"IVF-PQ recall {hits}/{total}"


def test_binary_hamming_recall_beats_random(spark, sf001):
    """1-bit sign sketch keeps only coordinate signs — recall vs exact
    cosine is capped hard by the near-orthogonal synthetic data
    (measured 0.16 @5); pin it above the random baseline (~0.05)."""
    from tabsketchfm_spark.operators.ann import binary_hamming_topk
    from tabsketchfm_spark.operators.vector import cosine_topk

    emb = load_table(spark, sf001, "embeddings")
    truth = _topk_sets(cosine_topk(emb, 10, k=5))
    approx = _topk_sets(binary_hamming_topk(emb, 10, k=5))
    hits = sum(len(truth[q] & approx.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.1, f"binary Hamming recall {hits}/{total}"


def test_ivf_assign_partitions_every_vector(spark, sf001):
    """Every vector lands in exactly one cell, and every cell id is a
    valid centroid id."""
    from tabsketchfm_spark.operators.ivf import ivf_assign

    emb = load_table(spark, sf001, "embeddings")
    a = ivf_assign(emb, n_cells=16)
    assert a.count() == emb.count()
    assert a.select("id").distinct().count() == emb.count()
    bad = a.where((F.col("cell") < 0) | (F.col("cell") >= 16)).count()
    assert bad == 0


def _word_set(df, col):
    rows = df.select(
        F.explode(F.split(F.col(col).cast("string"), r"\s+")).alias("w")
    ).where(F.col("w") != "").distinct().collect()
    return {r.w for r in rows}


@pytest.mark.parametrize("col_a,col_b", [("p_name", "p_type"), ("p_name", "p_brand")])
def test_word_minhash_estimate_tracks_exact(spark, sf001, col_a, col_b):
    """SK2 word-token sketches obey the MinHash property bound (the
    datasketch-parity check from SURVEY §7.5 risk 1: no bit-parity with
    the reference's digests, but estimates must track exact Jaccard
    within the k=100 statistical bound on vocabulary overlap)."""
    part = load_table(spark, sf001, "part")
    sa = _word_set(part, col_a)
    sb = _word_set(part, col_b)
    exact = len(sa & sb) / len(sa | sb)
    qs = minhash_signatures(part, "part", [col_a], words=True)
    cs = minhash_signatures(part, "part", [col_b], words=True)
    est = minhash_jaccard_estimate(qs, cs).first().est_jaccard
    bound = 3.5 * math.sqrt(max(exact * (1 - exact), 0.01) / 100)
    assert abs(est - exact) <= bound, (exact, est)


def test_word_minhash_estimate_on_augmented_table(spark, sf001):
    """A column-subset 'augmented view' of the same table (the SK5
    augmentation family) must estimate high-but-not-perfect overlap
    against its source: exact Jaccard of the half-vocabulary vs full
    vocabulary is recovered within the property bound."""
    part = load_table(spark, sf001, "part")
    aug = part.where(F.col("p_partkey") % 2 == 0)  # row-subset augmentation
    sa = _word_set(part, "p_name")
    sb = _word_set(aug, "p_name")
    exact = len(sa & sb) / len(sa | sb)
    qs = minhash_signatures(part, "part", ["p_name"], words=True)
    cs = minhash_signatures(aug, "part_aug", ["p_name"], words=True)
    est = minhash_jaccard_estimate(qs, cs).first().est_jaccard
    bound = 3.5 * math.sqrt(max(exact * (1 - exact), 0.01) / 100)
    assert abs(est - exact) <= bound, (exact, est)


def test_weighted_sample_no_int64_overflow(spark):
    """Regression (round-4 ADVICE): the inclusion test h24·W < k·w·2^24
    overflows int64 once total weight W exceeds (2^63-1)/2^24 ≈ 5.5e11
    — realistic for token-count weights at corpus scale. Spark
    (non-ANSI) would wrap silently; the fix compares int128-backed
    decimals. With uniform giant weights the inclusion probability is
    min(1, k·w/W) = 1 for k ≥ n, so EVERY row must be kept — under the
    old wrapped arithmetic the sample came back near-empty."""
    import duckdb

    from tabsketchfm_spark.sources.splits import (
        weighted_sample,
        weighted_sample_oracle_sql,
    )

    n = 8
    big = 200_000_000_000  # 2e11 each → W = 1.6e12 > 5.5e11 threshold
    df = spark.createDataFrame(
        [(f"doc{i}", big) for i in range(n)], "doc_id string, w long"
    )
    got = weighted_sample(df, F.col("w"), "doc_id", k=n).collect()
    assert len(got) == n, f"overflow dropped rows: kept {len(got)}/{n}"

    # oracle twin agrees bit-for-bit on the same frame
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT 'doc' || CAST(i AS VARCHAR) AS doc_id, "
        f"CAST({big} AS BIGINT) AS wt FROM range({n}) r(i)"
    )
    oracle = con.execute(
        weighted_sample_oracle_sql("t", "wt", "doc_id", k=n)
    ).fetchall()
    assert sorted(r[0] for r in oracle) == sorted(r["id"] for r in got)


def test_token_length_oracles_are_character_based(spark):
    """Regression (round-4 ADVICE): DuckDB strlen() counts BYTES while
    Spark length() counts CHARACTERS — the token_stats avg_token_len
    and gopher mean_tok_len/short_frac oracles silently diverge on any
    non-ASCII document (the shipped testdata is ASCII, so the parity
    gate was green only by luck). Drive both engines over multibyte
    text and demand bit-equality."""
    import duckdb

    from tabsketchfm_spark.operators.text import (
        gopher_rules,
        gopher_rules_oracle_sql,
        token_stats,
        token_stats_oracle_sql,
    )

    rows = [
        ("d1", "café naïve résumé the of and über schön"),
        ("d2", "日本語 テスト ascii words the in on at"),
        ("d3", "plain ascii text with the usual stopwords in it"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs(doc_id VARCHAR, text VARCHAR)"
    )
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)

    for op, osql in (
        (token_stats, token_stats_oracle_sql),
        (gopher_rules, gopher_rules_oracle_sql),
    ):
        got = {r["id"]: r.asDict() for r in op(df).collect()}
        cur = con.execute(osql("docs"))
        cols = [d[0] for d in cur.description]
        want = {r[0]: dict(zip(cols, r)) for r in cur.fetchall()}
        assert got == want, (op.__name__, got, want)


def _m1_fixture_rows():
    return [
        {"table_name": "t", "column_name": "c_cust_key", "col_idx": 0,
         "col_type": "integer", "distinct_cnt": 10, "num_nan": 0,
         "cell_width_bytes": 4.0, "q10": 1.0, "q20": 2.0, "q30": 3.0,
         "q40": 4.0, "q50": 5.0, "q60": 6.0, "q70": 7.0, "q80": 8.0,
         "q90": 9.0, "mean_v": 5.0, "std_v": 2.9, "min_v": 1.0,
         "max_v": 10.0, "minhash": [17, 23, 99]},
        {"table_name": "t", "column_name": "c_name", "col_idx": 1,
         "col_type": "string", "distinct_cnt": 9, "num_nan": 1,
         "cell_width_bytes": 12.0, "q10": None, "q20": None, "q30": None,
         "q40": None, "q50": None, "q60": None, "q70": None, "q80": None,
         "q90": None, "mean_v": None, "std_v": None, "min_v": None,
         "max_v": None, "minhash": None},
    ]


def test_m1_forward_layernorm_and_shape():
    """The six-stream sum + LayerNorm (reference transformer_bert.py:
    24-85): every token state has zero mean and unit variance across
    the hidden dim (gamma=1/beta=0 at init), and the sequence is
    [CLS, col1 toks, SEP, col2 toks, SEP]."""
    import numpy as np

    from tabsketchfm_spark.ml.reference_forward import (
        HIDDEN,
        build_token_sequence,
        m1_forward,
    )

    seq = build_token_sequence(_m1_fixture_rows())
    assert [t["token"] for t in seq] == [
        "[CLS]", "c", "cust", "key", "[SEP]", "c", "name", "[SEP]"
    ]
    states = m1_forward(seq)
    assert states.shape == (8, HIDDEN)
    assert np.allclose(states.mean(axis=1), 0, atol=1e-9)
    assert np.allclose(states.var(axis=1), 1, atol=1e-6)
    # deterministic: same inputs, bit-identical outputs
    assert np.array_equal(states, m1_forward(build_token_sequence(_m1_fixture_rows())))


def test_m1_pooling_linearity():
    """find_table_col semantics (reference extract_embeddings.py:16-73):
    one group per column; the table embedding is the token-count-
    weighted mean of the column embeddings (mean over all non-special
    tokens), and the CLS state is position 0 unpooled."""
    import numpy as np

    from tabsketchfm_spark.ml.reference_forward import (
        build_token_sequence,
        find_table_col_pool,
        m1_forward,
    )

    seq = build_token_sequence(_m1_fixture_rows())
    states = m1_forward(seq)
    tab, cols, cls = find_table_col_pool(seq, states)
    assert sorted(cols) == [0, 1]  # one SEP group per column
    counts = {0: 3, 1: 2}  # c/cust/key and c/name
    weighted = sum(counts[k] * cols[k] for k in cols) / sum(counts.values())
    assert np.allclose(tab, weighted, atol=1e-12)
    assert np.array_equal(cls, states[0])


def test_m1_value_stream_changes_embedding():
    """The value/minhash streams are live inputs, not dead weights: the
    SAME token sequence with different column stats or signatures must
    produce different states (the round-3 stub ignored the minhash
    stream entirely)."""
    import numpy as np

    from tabsketchfm_spark.ml.reference_forward import (
        build_token_sequence,
        m1_forward,
    )

    base = _m1_fixture_rows()
    states0 = m1_forward(build_token_sequence(base))
    bumped = _m1_fixture_rows()
    bumped[0]["q50"] = 500.0
    states1 = m1_forward(build_token_sequence(bumped))
    assert not np.array_equal(states0, states1)
    resig = _m1_fixture_rows()
    resig[0]["minhash"] = [18, 23, 99]
    states2 = m1_forward(build_token_sequence(resig))
    assert not np.array_equal(states0, states2)


def test_m2_encoder_layer_properties():
    """One BERT block (reference pools its output as hidden layer 1):
    attention rows are probability distributions (sum to 1), the block
    output is LayerNormed (zero mean / unit variance per token),
    deterministic, and actually mixes information across positions
    (perturbing one token's stats changes OTHER tokens' layer-1 states,
    which the embedding layer alone cannot do)."""
    import numpy as np

    from tabsketchfm_spark.ml.reference_forward import (
        HIDDEN,
        attention_probs,
        build_token_sequence,
        hidden_layer_1,
        m1_forward,
    )

    seq = build_token_sequence(_m1_fixture_rows())
    states0 = m1_forward(seq)
    probs = attention_probs(states0)
    assert probs.shape == (4, len(seq), len(seq))
    assert np.allclose(probs.sum(axis=2), 1.0, atol=1e-12)
    assert (probs >= 0).all()

    h1 = hidden_layer_1(seq)
    assert h1.shape == (len(seq), HIDDEN)
    assert np.allclose(h1.mean(axis=1), 0, atol=1e-9)
    assert np.allclose(h1.var(axis=1), 1, atol=1e-6)
    assert np.array_equal(h1, hidden_layer_1(build_token_sequence(_m1_fixture_rows())))

    bumped = _m1_fixture_rows()
    bumped[0]["q50"] = 500.0
    h1b = hidden_layer_1(build_token_sequence(bumped))
    m1b = m1_forward(build_token_sequence(bumped))
    # embedding layer: only column-0 token states change (positions 1-3)
    changed_m1 = [i for i in range(len(seq)) if not np.allclose(states0[i], m1b[i])]
    assert changed_m1 == [1, 2, 3]
    # after attention, the change propagates to every position
    changed_h1 = [i for i in range(len(seq)) if not np.allclose(h1[i], h1b[i])]
    assert changed_h1 == list(range(len(seq)))


def test_bm25_ranks_by_relevance(spark):
    """BM25 sanity on a controlled corpus: the doc with both query
    terms outranks single-term docs; repeated-term docs outrank
    single-occurrence ones; docs with no query terms don't appear."""
    from tabsketchfm_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark window spark window filler"),
            (2, "spark filler filler filler filler"),
            (3, "window filler filler filler filler"),
            (4, "nothing relevant here at all"),
        ],
        "doc_id bigint, text string",
    )
    rows = bm25_topk(docs, ["spark", "window"], k=10).collect()
    ranks = {r.id: r.rank for r in rows}
    assert 4 not in ranks
    assert ranks[1] == 1
    assert set(ranks) == {1, 2, 3}


def test_unigram_logppl_flags_rare_text(spark):
    """The unigram LM gate: a document of corpus-rare tokens carries
    higher mean NLL than one of corpus-common tokens, and n_tokens
    totals are exact."""
    from tabsketchfm_spark.operators.text import unigram_logppl

    common = "the table row value scan " * 20
    docs = spark.createDataFrame(
        [(i, common) for i in range(9)] + [(9, "zyx qwv jkl pqr mnb")],
        "doc_id bigint, text string",
    )
    got = {r.id: r for r in unigram_logppl(docs).collect()}
    assert got[9].avg_nll > got[0].avg_nll
    assert got[0].n_tokens == 100 and got[9].n_tokens == 5


def test_mlm_batch_contract(spark, sf001):
    """M8 applied: labels appear exactly at masked positions and carry
    the ORIGINAL token; [MASK] positions read '[MASK]'; random
    replacements come from the table's own non-special vocabulary;
    unmasked positions are passed through untouched."""
    from tabsketchfm_spark.operators.features import (
        mask_plan,
        mlm_batch,
        token_features,
    )
    from tabsketchfm_spark.operators.profile import profile_table

    prof = profile_table(load_table(spark, sf001, "customer"), "customer")
    tf = {r.position_id: r.token for r in token_features(prof).collect()}
    mp = {r.position_id: r for r in mask_plan(prof).collect()}
    out = {r.position_id: r for r in mlm_batch(prof).collect()}
    assert set(out) == set(tf)
    vocab = {t for t in tf.values() if t not in ("[CLS]", "[SEP]")}
    saw_masked = False
    for pid, r in out.items():
        plan = mp[pid]
        if plan.masked:
            saw_masked = True
            assert r.label == tf[pid]
            if plan.action == "[MASK]":
                assert r.input_token == "[MASK]"
            elif plan.action == "random":
                assert r.input_token in vocab
            else:
                assert r.input_token == tf[pid]
        else:
            assert r.label is None and r.input_token == tf[pid]
    assert saw_masked


def test_distinct_sketch_accuracy_and_mergeability(spark, sf01):
    """Linear counting: with load factor n/m ≲ 1 the estimate tracks
    exact distinct within ~10%, and the bitmap is mergeable — the
    occupied-slot set of the whole equals the union of the halves'
    (value-determined slots)."""
    from pyspark.sql import functions as F

    from tabsketchfm_spark.functions.hashing import h32_sql
    from tabsketchfm_spark.operators.profile import distinct_sketch

    li = load_table(spark, sf01, "lineitem")
    cols = ["l_orderkey", "l_partkey"]
    m = 8192
    est = {
        r.column_name: r.est_distinct
        for r in distinct_sketch(li, "lineitem", cols, m=m).collect()
    }
    for c in cols:
        exact = li.select(c).distinct().count()
        assert abs(est[c] - exact) / exact < 0.10, (c, est[c], exact)

    h = F.expr(h32_sql(f"cast(l_orderkey as string)", "spark"))
    slots_of = lambda frame: {
        r.s for r in frame.select((h % m).alias("s")).distinct().collect()
    }
    even = li.where(F.col("l_orderkey") % 2 == 0)
    odd = li.where(F.col("l_orderkey") % 2 == 1)
    assert slots_of(li) == slots_of(even) | slots_of(odd)


def test_hybrid_rrf_fuses_both_rankers(spark, sf01):
    """RRF sanity: a doc ranked by BOTH rankers outscores the same
    ranks held singly; every fused row carries at least one rank; the
    fused ordering is rrf-desc with id tiebreak."""
    from tabsketchfm_spark.operators.text import hybrid_rrf_topk

    docs = load_table(spark, sf01, "documents")
    emb = load_table(spark, sf01, "embeddings")
    rows = hybrid_rrf_topk(
        docs, emb, ["spark", "window", "customer", "vector"], k=20, pool=50
    ).collect()
    assert rows, "fusion produced no rows"
    assert all(r.r_lex is not None or r.r_sem is not None for r in rows)
    scores = [r.rrf for r in rows]
    assert scores == sorted(scores, reverse=True) or len(set(scores)) < len(scores)
    for r in rows:
        expect = (1.0 / (60 + r.r_lex) if r.r_lex else 0.0) + (
            1.0 / (60 + r.r_sem) if r.r_sem else 0.0
        )
        assert abs(r.rrf - expect) < 1e-9


def test_duplicate_span_fraction_semantics(spark):
    """A doc copied verbatim scores dup_frac 1.0 on both copies; a doc
    with no shared runs scores 0.0; a half-copied doc lands strictly
    between."""
    from tabsketchfm_spark.operators.text import duplicate_span_fraction

    boiler = "alpha beta gamma delta epsilon zeta eta theta"
    uniq = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, boiler),
            (2, boiler),
            (3, uniq),
            (4, boiler + " nine ten eleven twelve thirteen fourteen"),
        ],
        "doc_id bigint, text string",
    )
    got = {r.id: r for r in duplicate_span_fraction(docs).collect()}
    assert got[1].dup_frac == 1.0 and got[2].dup_frac == 1.0
    assert got[3].dup_frac == 0.0
    assert 0.0 < got[4].dup_frac < 1.0


def test_bigram_logppl_detects_word_order_damage(spark):
    """The order-2 gate sees what bag-of-words cannot: shuffling a
    document's word order (same unigram bag) raises its bigram NLL
    relative to in-order copies of the corpus idiom."""
    from tabsketchfm_spark.operators.text import bigram_logppl, unigram_logppl

    idiom = "the quick brown fox jumps over the lazy dog"
    scrambled = "dog the over quick lazy jumps brown the fox"
    docs = spark.createDataFrame(
        [(i, idiom) for i in range(9)] + [(9, scrambled)],
        "doc_id bigint, text string",
    )
    bg = {r.id: r.avg_nll for r in bigram_logppl(docs).collect()}
    assert bg[9] > bg[0]
    # unigram model cannot distinguish them (same bag, same length)
    ug = {r.id: r.avg_nll for r in unigram_logppl(docs).collect()}
    assert ug[9] == ug[0]


def test_join_cardinality_estimate_accuracy(spark, sf01):
    """The sketch-only join-size estimate lands within a small factor
    of the TRUE equi-join cardinality on the orders⋈customer key pair
    (uniform multiplicities — the estimator's model assumption holds,
    so the error is sketch noise, not model error)."""
    from tabsketchfm_spark.operators.minhash import join_cardinality_estimate
    from tabsketchfm_spark.sources.tables import load_table

    est = join_cardinality_estimate(
        spark, sf01, ("orders", "o_custkey"), ("customer", "c_custkey")
    ).first()
    orders = load_table(spark, sf01, "orders")
    cust = load_table(spark, sf01, "customer")
    true = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).count()
    assert true > 0
    ratio = est.est_join_rows / true
    assert 0.5 <= ratio <= 2.0, (est.est_join_rows, true)


def test_kl_drift_near_zero_for_parity_split(spark, sf01):
    """Parity halves of one table draw from the same distribution:
    both KL directions land near zero (and exactly zero only if the
    histograms coincide), and an injected shift is clearly visible."""
    from pyspark.sql import functions as F

    from tabsketchfm_spark.operators.profile import histogram_kl_drift
    from tabsketchfm_spark.sources.tables import load_table

    li = load_table(spark, sf01, "lineitem")
    base = histogram_kl_drift(li, "lineitem", "l_extendedprice", "l_orderkey").first()
    assert base.kl_pq < 0.05 and base.kl_qp < 0.05

    shifted = li.withColumn(
        "l_extendedprice",
        F.when(
            F.col("l_orderkey") % 2 == 0, F.col("l_extendedprice") * 3
        ).otherwise(F.col("l_extendedprice")),
    )
    drift = histogram_kl_drift(
        shifted, "lineitem", "l_extendedprice", "l_orderkey"
    ).first()
    assert drift.kl_pq > 10 * max(base.kl_pq, 1e-6)


def test_zorder_locality_beats_linear_order(spark, sf01):
    """The point of the Morton key: consecutive rows in z-order are
    closer in BOTH dimensions than consecutive rows in single-column
    order — measured as mean Manhattan distance between neighbors,
    z-order must beat ordering by o_orderkey alone on the o_custkey
    axis by a wide margin."""
    from tabsketchfm_spark.operators.structural import zorder_key
    from tabsketchfm_spark.sources.tables import load_table

    orders = load_table(spark, sf01, "orders").select("o_orderkey", "o_custkey")
    keyed = zorder_key(orders, "o_custkey", "o_orderkey", ["o_orderkey"]).join(
        orders, "o_orderkey"
    )
    rows = [(r.zkey, r.o_custkey) for r in keyed.collect()]

    def mean_gap(seq):
        vals = [c for _, c in seq]
        return sum(abs(b - a) for a, b in zip(vals, vals[1:])) / (len(vals) - 1)

    by_z = sorted(rows)
    # linear baseline: order by o_orderkey (insertion order proxy)
    linear = [(r.o_orderkey, r.o_custkey) for r in orders.collect()]
    by_key = sorted(linear)
    assert mean_gap(by_z) < 0.5 * mean_gap(by_key)


def test_record_linkage_blocking_and_score(spark, sf01):
    """Linkage sanity: every emitted pair shares the blocking key, the
    score is the documented weighted combination, and identical names
    within a block would score name_jac 1.0 (checked on a synthetic
    frame)."""
    from tabsketchfm_spark.operators.linkage import record_linkage

    a = spark.createDataFrame(
        [(1, 10, "acme corp", 100.0), (2, 20, "zebra ltd", 50.0)],
        "c_custkey bigint, c_nationkey bigint, c_name string, c_acctbal double",
    )
    b = spark.createDataFrame(
        [(7, 10, "acme corp", 100.0), (8, 30, "acme corp", 100.0)],
        "s_suppkey bigint, s_nationkey bigint, s_name string, s_acctbal double",
    )
    rows = record_linkage(a, b, threshold=0.0).collect()
    # supplier 8 is in a different block — never compared
    assert {(r.id_a, r.id_b) for r in rows} == {(1, 7)}
    r = rows[0]
    assert r.name_jac == 1.0 and r.num_sim == 1.0 and r.score == 1.0


def test_countmin_point_queries_never_underestimate(spark, sf01):
    """Count-min guarantee: every point query is >= the true
    frequency, and with depth 4 × width 256 over ~1k distinct keys the
    overestimate stays small relative to the total count."""
    from tabsketchfm_spark.operators.profile import (
        countmin_estimate,
        countmin_sketch,
    )
    from tabsketchfm_spark.sources.tables import load_table

    orders = load_table(spark, sf01, "orders")
    sk = countmin_sketch(orders, "orders", "o_custkey").persist()
    rows = countmin_estimate(sk, orders, "o_custkey", keys_max=20).collect()
    assert len(rows) == 20
    assert all(r.overest for r in rows)
    total = orders.count()
    import math

    bound = math.e / 256 * total
    assert all(r.est - r.exact <= 3 * bound for r in rows)


def test_kmv_set_estimates_accuracy(spark, sf01):
    """Theta-sketch algebra vs ground truth on the orders/customer key
    pair: distinct, union, and intersection estimates all land within
    the k=256 KMV error band (~3/sqrt(k) ≈ 19%)."""
    from tabsketchfm_spark.operators.profile import kmv_set_estimates
    from tabsketchfm_spark.sources.tables import load_table

    orders = load_table(spark, sf01, "orders")
    cust = load_table(spark, sf01, "customer")
    est = kmv_set_estimates(orders, "o_custkey", cust, "c_custkey").first()

    a = {r.o_custkey for r in orders.select("o_custkey").distinct().collect()}
    b = {r.c_custkey for r in cust.select("c_custkey").distinct().collect()}
    tol = 0.19
    assert abs(est.est_a - len(a)) / len(a) < tol
    assert abs(est.est_b - len(b)) / len(b) < tol
    assert abs(est.est_union - len(a | b)) / len(a | b) < tol
    inter = len(a & b)
    assert inter > 0
    assert abs(est.est_intersection - inter) / inter < 2 * tol  # ratio estimator compounds


def test_validate_contracts_detects_injected_violations(spark, sf001):
    """The expectation checks actually fire: the clean lake passes all
    six, and each violation class is detected when injected."""
    from pyspark.sql import functions as F

    from tabsketchfm_spark.operators.profile import validate_contracts
    from tabsketchfm_spark.sources.tables import load_table

    clean = {r.check_name: r for r in validate_contracts(spark, sf001).collect()}
    assert len(clean) == 6 and all(r["pass"] for r in clean.values())

    # injected orphan: an order pointing at a nonexistent customer
    orders = load_table(spark, sf001, "orders")
    bad = orders.limit(1).withColumn("o_custkey", F.lit(10**9))
    orphans = (
        orders.unionByName(bad)
        .join(
            F.broadcast(load_table(spark, sf001, "customer").select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .count()
    )
    assert orphans == 1


def test_correlation_matrix_recovers_known_correlations(spark):
    """Pearson sanity: y = 2x scores corr 1.0; y = -x scores -1.0;
    independent alternation scores near 0."""
    from tabsketchfm_spark.operators.profile import correlation_matrix

    rows = [(float(i), 2.0 * i, -float(i), float(i % 2)) for i in range(100)]
    df = spark.createDataFrame(rows, "x double, y double, z double, w double")
    got = {
        (r.col_a, r.col_b): r.corr
        for r in correlation_matrix(df, "t", ["x", "y", "z", "w"]).collect()
    }
    assert got[("x", "y")] == 1.0
    assert got[("x", "z")] == -1.0
    assert abs(got[("x", "w")]) < 0.05


def test_curation_pipeline_filters_compose(spark, sf01):
    """The composed pipeline packs EXACTLY the docs that pass all
    three gates (gopher ∧ quality ∧ exact-dedup keeper), and drops a
    non-trivial number on the real corpus."""
    from pyspark.sql import functions as F

    from tabsketchfm_spark.operators.text import (
        curation_pipeline,
        gopher_rules,
        quality_score,
    )
    from tabsketchfm_spark.sources.tables import load_table

    docs = load_table(spark, sf01, "documents")
    packed_ids = {r.doc_id for r in curation_pipeline(docs).collect()}
    g = {r.id for r in gopher_rules(docs).where("pass_all").collect()}
    q = {r.id for r in quality_score(docs).where("score >= 0.5").collect()}
    from tabsketchfm_spark.functions.hashing import h64_sql

    keyed = docs.select(
        F.col("doc_id").alias("id"),
        F.expr(h64_sql("nullif(cast(text as string), '')", "spark")).alias("ck"),
    )
    keep = {
        r.id
        for r in keyed.join(
            keyed.groupBy("ck").agg(F.min("id").alias("k")), "ck"
        ).where("id = k").collect()
    }
    expect = g & q & keep
    assert packed_ids == expect
    assert 0 < len(packed_ids) < docs.count()


def test_forget_cascade_consistency(spark, sf01):
    """Cascade accounting: every dependent table loses at least as
    many rows as referencing rows exist for the victims, and
    rows_after + rows_removed == rows_before everywhere."""
    from tabsketchfm_spark.operators.structural import forget_keys

    rows = {r.table_name: r for r in forget_keys(spark, sf01).collect()}
    assert set(rows) == {"customer", "orders", "lineitem"}
    for r in rows.values():
        assert r.rows_after + r.rows_removed == r.rows_before
    assert rows["customer"].rows_removed > 0
    assert rows["orders"].rows_removed >= rows["customer"].rows_removed
    assert rows["lineitem"].rows_removed >= rows["orders"].rows_removed


def test_pii_redact_typed_placeholders_and_counts(spark):
    """Regression (round-4 review): the SSN shape is a sub-language of
    the phone pattern — redaction must apply most-specific-first so
    '123-45-6789' reads [SSN_LIKE] (not [PHONE]), and n_redacted
    counts each span once (no double counting across families)."""
    import duckdb

    from tabsketchfm_spark.operators.text import pii_redact, pii_redact_oracle_sql

    rows = [
        (1, "my ssn is 123-45-6789 ok"),
        (2, "call +1 (555) 123-4567 or mail a.b@example.com"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.id: r for r in pii_redact(df).collect()}
    assert got[1].text_redacted == "my ssn is [SSN_LIKE] ok"
    assert got[1].n_redacted == 1
    assert "[PHONE]" in got[2].text_redacted and "[EMAIL]" in got[2].text_redacted
    assert got[2].n_redacted == 2
    assert got[3].n_redacted == 0

    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    cur = con.execute(pii_redact_oracle_sql("docs"))
    cols = [d[0] for d in cur.description]
    want = {r[0]: dict(zip(cols, r)) for r in cur.fetchall()}
    for i, r in got.items():
        assert want[i]["text_redacted"] == r.text_redacted
        assert want[i]["n_redacted"] == r.n_redacted


def test_pmi_detects_collocations(spark):
    """PMI sanity: a pair that ALWAYS co-occurs ('new york') outranks
    pairs of independently-frequent words; independent pairs score
    near 0."""
    from tabsketchfm_spark.operators.text import pmi_topk

    docs = spark.createDataFrame(
        [(i, "new york is big and the cat is here and dog runs") for i in range(5)]
        + [(9 + i, "the cat and the dog and the cat") for i in range(5)],
        "doc_id bigint, text string",
    )
    rows = pmi_topk(docs, k=50, min_count=3).collect()
    pmi = {(r.a, r.b): r.pmi for r in rows}
    assert pmi[("new", "york")] == max(pmi.values())
    assert pmi[("new", "york")] > pmi.get(("the", "cat"), -99)


def test_reshard_minimal_movement_property(spark, sf01):
    """Growing 8→9 shards: mod-hash moves ≈ 8/9 of rows while
    rendezvous hashing moves ≈ 1/9 — the minimal-movement guarantee
    that makes consistent placement viable for a bucketed lake."""
    from tabsketchfm_spark.operators.structural import reshard_analysis
    from tabsketchfm_spark.sources.tables import load_table

    rows = {
        r.scheme: r.moved_frac
        for r in reshard_analysis(load_table(spark, sf01, "orders"), "o_orderkey").collect()
    }
    assert abs(rows["mod_hash"] - 8 / 9) < 0.03
    assert abs(rows["rendezvous"] - 1 / 9) < 0.03
    assert rows["rendezvous"] < rows["mod_hash"] / 4


def test_exact_substring_dedup_removes_injected_spans(spark):
    """ExactSubstr semantics on a constructed corpus: a k-gram pasted
    into two docs is removed from BOTH (all covered positions); fully
    unique docs and docs shorter than k pass through untouched."""
    from tabsketchfm_spark.operators.text import exact_substring_dedup

    boiler = "the quick brown fox jumps over the lazy dog"  # 9 tokens > k=8
    exact = "one two three four five six seven eight"  # exactly k=8 tokens
    rows = [
        (1, f"alpha beta {boiler} gamma"),
        (2, f"delta {boiler} epsilon zeta"),
        (3, "completely unique text with no repeats at all here ok"),
        (4, "short doc"),  # < k tokens
        (5, exact),  # fully-covered pair: cleaned to empty
        (6, exact),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in exact_substring_dedup(docs).collect()}
    # the shared 9-token span yields 2 duplicated 8-grams covering all
    # 9 positions in each doc; unique surroundings survive
    assert got[1]["cleaned_text"] == "alpha beta gamma"
    assert got[2]["cleaned_text"] == "delta epsilon zeta"
    assert got[1]["n_removed"] == 9 and got[2]["n_removed"] == 9
    assert got[3]["n_removed"] == 0
    assert got[3]["cleaned_text"] == rows[2][1]
    assert got[4]["n_removed"] == 0 and got[4]["cleaned_text"] == "short doc"
    # fully-duplicated docs survive as rows with empty cleaned text
    for d in (5, 6):
        assert got[d]["n_removed"] == 8 and got[d]["cleaned_text"] == ""


def test_exact_substring_dedup_chars_removes_injected_spans(spark):
    """Char-granularity ExactSubstr: a k-char substring pasted into two
    docs is removed at CHARACTER offsets from both; unique docs and
    docs shorter than k chars pass through; a fully-duplicated doc is
    cleaned to empty."""
    from tabsketchfm_spark.operators.text import exact_substring_dedup_chars

    boiler = "QUICKBROWNFOXJUMPSOVER"  # 22 chars > k=20
    exact = "ABCDEFGHIJKLMNOPQRST"  # exactly k=20 chars
    rows = [
        (1, f"xy{boiler}zw"),
        (2, f"pq{boiler}rs"),
        (3, "totally unique characters with no repeats whatsoever!"),
        (4, "tiny"),  # < k chars
        (5, exact),
        (6, exact),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: r for r in exact_substring_dedup_chars(docs, k=20).collect()
    }
    # the shared 22-char span yields 3 duplicated 20-grams covering all
    # 22 positions; the 2-char flanks survive at their offsets
    assert got[1]["cleaned_text"] == "xyzw" and got[1]["n_removed"] == 22
    assert got[2]["cleaned_text"] == "pqrs" and got[2]["n_removed"] == 22
    assert got[3]["n_removed"] == 0 and got[3]["cleaned_text"] == rows[2][1]
    assert got[4]["n_removed"] == 0 and got[4]["cleaned_text"] == "tiny"
    for d in (5, 6):
        assert got[d]["n_removed"] == 20 and got[d]["cleaned_text"] == ""


def test_subword_token_features_generic_profile(spark, sf01):
    """The subword M9 oracle must hold for profiles whose column names
    are NOT lake names: out-of-corpus words segment through the same
    m1..m{n} replace replay Spark's expression applies, and a
    zero-word name ('_') still emits its [SEP] row (LEFT-join
    fallback)."""
    from tabsketchfm_spark.operators import bpe
    from tabsketchfm_spark.operators import features as feat
    from tests.oracle_util import assert_match, run_oracle

    merges = bpe.learn_merges_py(
        bpe.lake_column_word_counts(spark, sf01), 40
    )
    names = ["username_extendedkey", "_", "zzqx", "order_name"]
    stat_cols = [
        "q10", "q20", "q30", "q40", "q50", "q60", "q70", "q80", "q90",
        "mean_v", "std_v", "min_v", "max_v",
    ]
    rows = [(nm, i, "string", *([None] * 13)) for i, nm in enumerate(names)]
    schema = "column_name string, col_idx int, col_type string, " + ", ".join(
        f"{c} double" for c in stat_cols
    )
    profile = spark.createDataFrame(rows, schema)
    sdf = feat.token_features(
        profile, tk_expr=feat.subword_tk_expr(merges, 5)
    )
    vals = ", ".join(
        f"('{nm}', {i}, 'string', "
        + ", ".join(["CAST(NULL AS DOUBLE)"] * 13)
        + ")"
        for i, nm in enumerate(names)
    )
    profile_sql = (
        f"SELECT * FROM (VALUES {vals}) v(column_name, col_idx, col_type, "
        + ", ".join(stat_cols)
        + ")"
    )
    opdf = run_oracle(
        feat.subword_token_features_oracle_sql(profile_sql, 40), sf01
    )
    assert_match(sdf, opdf, "subword_generic_profile")


def test_functional_dependencies_key_semantics(spark, sf001):
    """FD semantics on customer: the key column determines every other
    column (exact_fd, strength 1.0); a low-cardinality column cannot
    determine the key (strength << 1)."""
    from tabsketchfm_spark.operators.profile import functional_dependencies

    cust = load_table(spark, sf001, "customer")
    got = {
        (r.lhs, r.rhs): r
        for r in functional_dependencies(cust).collect()
    }
    for rhs in ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]:
        r = got[("c_custkey", rhs)]
        assert r.exact_fd and r.strength == 1.0
    r = got[("c_nationkey", "c_custkey")]
    assert not r.exact_fd and r.strength < 0.5


def test_functional_dependencies_guided_is_candidate_subset(spark, sf001):
    """Guided FD == full FD restricted to the near-key lhs candidates:
    on customer the low-cardinality lhs (c_nationkey, c_mktsegment)
    must be pruned from the lattice, the key must survive, and every
    surviving row must carry identical counts/strength."""
    from tabsketchfm_spark.operators.profile import (
        functional_dependencies,
        functional_dependencies_guided,
    )

    cust = load_table(spark, sf001, "customer")
    full = {
        (r.lhs, r.rhs): r for r in functional_dependencies(cust).collect()
    }
    guided = {
        (r.lhs, r.rhs): r
        for r in functional_dependencies_guided(cust, tau=0.9).collect()
    }
    lhs_set = {lhs for lhs, _ in guided}
    assert "c_custkey" in lhs_set
    assert "c_nationkey" not in lhs_set and "c_mktsegment" not in lhs_set
    assert set(guided) == {k for k in full if k[0] in lhs_set}
    for k, v in guided.items():
        fv = full[k]
        assert (v.n_lhs, v.n_pairs, v.exact_fd, v.strength) == (
            fv.n_lhs,
            fv.n_pairs,
            fv.exact_fd,
            fv.strength,
        )


def test_bpe_segmented_shingles_python_fold(spark, sf001):
    """Independent pure-python re-derivation of the tokenizer-aware
    shingle scheme (the ExactSubstr pin pattern — a THIRD
    implementation besides Spark expressions and the DuckDB oracle):
    whitespace split, clean-word gate, double-space symbol encoding,
    python str.replace merge chain (shares Spark/DuckDB replace
    semantics — round-7 lesson), trim, word n-grams. Any drift in the
    encoding contract lands here without involving either engine."""
    import re

    from pyspark.sql import functions as F

    from tabsketchfm_spark.operators.bpe import END, MAX_WORD_LEN
    from tabsketchfm_spark.operators.dedup import bpe_segmented_shingles
    from tabsketchfm_spark.sources.tables import load_table

    docs = load_table(spark, sf001, "documents").where("doc_id < 25")
    merges = [("e", "r"), ("e", END), ("er", END), ("t", "h")]
    n = 3

    def seg(w):
        s = " " + "  ".join(w) + "  " + END + " "
        for a, b in merges:
            s = s.replace(f" {a}  {b} ", f" {a}{b} ")
        return s.strip()

    want = set()
    for r in docs.select("doc_id", "text").collect():
        tk = [t for t in re.split(r"\s+", r["text"]) if t != ""]
        tk = [
            seg(w)
            if re.fullmatch("[a-z]+", w) and 2 <= len(w) <= MAX_WORD_LEN
            else w
            for w in tk
        ]
        for i in range(len(tk) - n + 1):
            want.add((r["doc_id"], " ".join(tk[i : i + n])))

    got = {
        (r["id"], r["shingle"])
        for r in bpe_segmented_shingles(docs, merges, n=n).collect()
    }
    assert got == want

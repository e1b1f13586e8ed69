"""Quality gates for the hash-based LLM-pipeline ops that have no SQL
oracle: MinHash-LSH and SimHash recall vs the exact Jaccard method,
LSH-ANN recall vs brute-force cosine, rolling-fingerprint shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from msk_flink_streaming_cdk_spark.registry import ORACLES, QUERIES


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_minhash_lsh_recovers_exact_near_dups(spark, sf_small):
    exact = _pairs(QUERIES["dedup_ngram_jaccard_pairs"](spark, sf_small))
    lsh = _pairs(QUERIES["dedup_minhash_lsh_pairs"](spark, sf_small))
    assert exact, "fixture should contain injected near-dups"
    # LSH verifies candidates with the same exact Jaccard, so every
    # LSH pair is a true near-dup pair (no length-band blocking, so it
    # may legitimately find pairs the banded exact method missed).
    missed = exact - lsh
    assert not missed, f"LSH missed near-dup pairs: {missed}"


def test_simhash_pairs_overlap_near_dups(spark, sf_small):
    exact = _pairs(QUERIES["dedup_ngram_jaccard_pairs"](spark, sf_small))
    sim = _pairs(QUERIES["dedup_simhash_pairs"](spark, sf_small))
    # SimHash@hamming<=3 is a coarser sketch; require it to find a
    # majority of the true near-identical pairs (fixture pairs have
    # jaccard >= 0.94).
    recall = len(exact & sim) / len(exact)
    assert recall >= 0.5, f"simhash recall {recall:.2f}, pairs={sim}"


def test_lsh_ann_recall_vs_bruteforce(spark, sf_small):
    exact = QUERIES["similarity_cosine_topk"](spark, sf_small)
    approx = QUERIES["similarity_lsh_ann_topk"](spark, sf_small)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # Deterministic (seeded hyperplanes): pin a healthy floor.
    assert recall >= 0.5, f"ANN recall@5 {recall:.2f}"


def test_lsh_ann_scores_are_exact_cosines(spark, sf_small):
    """The ANN re-rank uses exact cosine — any (query, vec) it returns
    must carry the same score as brute force computes."""
    exact = {
        (r.query_id, r.vec_id): r.cosine
        for r in QUERIES["similarity_cosine_topk"](spark, sf_small).collect()
    }
    for r in QUERIES["similarity_lsh_ann_topk"](spark, sf_small).collect():
        key = (r.query_id, r.vec_id)
        if key in exact:
            assert abs(exact[key] - r.cosine) < 1e-12


def test_embedding_cosine_pairs_vs_bruteforce(spark, sf_small):
    import numpy as np

    rows = (
        spark.read.parquet(f"{sf_small}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    S = X @ X.T
    ids = [r.vec_id for r in rows]
    brute = {
        (ids[i], ids[j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if S[i, j] >= 0.45
    }
    got = {
        (r.vec_a, r.vec_b)
        for r in QUERIES["dedup_embedding_cosine_pairs"](
            spark, sf_small
        ).collect()
    }
    # precision exact (every emitted pair verified with exact cosine)
    assert got <= brute
    # recall probabilistic at this moderate similarity; deterministic
    # seeds make the measured value stable — pin a floor.
    if brute:
        recall = len(got & brute) / len(brute)
        assert recall >= 0.4, f"recall {recall:.2f}"


def test_rolling_fingerprints_shape(spark, sf_small):
    df = QUERIES["text_rolling_fingerprints"](spark, sf_small)
    row = df.filter(F.col("n_windows") > 1).first()
    assert row is not None
    hashes = row.window_hashes.split(",")  # canonical CSV projection
    assert len(hashes) == row.n_windows
    assert len(set(hashes)) > 1  # hashes vary across windows


def test_quality_audit_queries_pin_floors(spark, sf_small):
    """The driver-visible sketch-quality queries must report the same
    floors the direct tests pin (recall computed inside the engine)."""
    floors = {
        "dedup_minhash_recall": 0.99,  # LSH+exact-verify finds every pair
        "dedup_simhash_recall": 0.5,
        "similarity_ann_recall": 0.5,
        "similarity_ivf_recall": 0.6,  # 25% probe fraction on uniform vecs
        "dedup_embedding_recall": 0.4,
        # reproducible int8 integer-LSH (r12): 0.88/0.98 measured at
        # sf0.01/sf0.1 — 8 tables x 6 bits + Hamming-1 multi-probe
        "similarity_int8_lsh_recall": 0.8,
        # reproducible int8 IVF (r13): 0.52/0.48/0.42 measured at
        # sf0.001/0.01/0.1 — on UNIFORM synthetic embeddings IVF
        # recall ~= probe fraction (4/16 lists = 25%), the documented
        # worst case; clustered real data does better. The value of
        # this variant is bit-reproducibility (hash-checked oracle),
        # not recall — use int8-LSH when recall matters on flat data.
        "similarity_int8_ivf_recall": 0.4,
        # reproducible int8 PQ (r13): 0.90/0.96/0.72 measured at
        # sf0.001/0.01/0.1 (m=16, ksub=32, rerank=10 — md5-ranked
        # integer codebooks + exact re-rank of the ADC top-50; the
        # sf0.1 dip is the fixed rerank window over 5x the corpus)
        "similarity_int8_pq_recall": 0.7,
        # reproducible int8 IVF-PQ (r14): 0.52/0.48/0.40 measured at
        # sf0.001/0.01/0.1 — the IVF probe gate (4/16 lists ~= 25%
        # on uniform vectors, the documented worst case) dominates;
        # the PQ stage inside loses almost nothing extra because the
        # exact re-rank recovers precision on the probed candidates.
        # The point of the composition is the ADC cost (probe
        # fraction of the code table), not recall on flat data.
        "similarity_int8_ivfpq_recall": 0.35,
        # reproducible int8 graph search (r14): 0.42/0.50/0.46 at the
        # three SFs — an init-tier (0-round) graph at fixed 6 bits on
        # the uniform fixture; the hash-checked reproducibility is
        # the point, the float descended-graph leg keeps the
        # recall-grade role.
        "similarity_graph_search_int8_recall": 0.35,
        # quantizer-staleness drift (r14): overlap@5 of the
        # pinned-books (base = 80% of corpus) index vs a fresh
        # retrain — 0.72/0.68/0.62 measured at the three SFs; a
        # production pipeline alerts when this decays, here the
        # floor just pins the audit keeps producing sane overlap.
        "similarity_int8_ivfpq_drift": 0.5,
        # PLANTED-CLUSTER fixture recalls (r15, VERDICT r14 #2):
        # measured on md5-derived clustered vectors where exact-top5
        # purity is 1.0 — these floors finally measure RETRIEVAL,
        # not probe fraction (0.25). IVF 1.0/0.98 at sf0.01/sf0.1;
        # graph search 1.0/1.0; IVF-PQ 0.98/0.58 (the visible PQ
        # quantization cost — plain IVF holds 0.98 on the same
        # lists/probes, the ADC ranking loses true neighbors before
        # the exact re-rank as the corpus outgrows the fixed
        # k*rerank=50 candidate window).
        "similarity_clustered_ivf_recall": 0.9,
        "similarity_clustered_graph_recall": 0.9,
        "similarity_clustered_ivfpq_recall": 0.5,
    }
    for name, floor in floors.items():
        row = QUERIES[name](spark, sf_small).first()
        assert row.n_exact > 0, name
        assert row.recall >= floor, f"{name} recall {row.recall}"


def test_clustered_fixture_has_planted_structure(spark, sf_small):
    """The clustered-embedding fixture must actually separate: every
    exact top-5 neighbor shares its query's cluster (purity 1.0), all
    8 clusters are populated, and sizes are near-balanced (md5 cluster
    assignment is uniform). This is the precondition that makes the
    clustered recall floors measure retrieval instead of probe luck."""
    row = QUERIES["similarity_clustered_fixture_stats"](
        spark, sf_small
    ).first()
    assert row.n_clusters == 8
    assert row.top5_same_cluster_frac == 1.0
    assert row.min_cluster > 0
    assert row.max_cluster < 2 * (row.n_vectors / row.n_clusters)


def test_clustered_recall_beats_probe_fraction(spark, sf_small):
    """The point of the fixture (VERDICT r14 #2): on clustered data
    the IVF-family recall must be far above the n_probe/n_lists = 0.25
    probe fraction that uniform vectors mathematically pin it to."""
    for name in (
        "similarity_clustered_ivf_recall",
        "similarity_clustered_ivfpq_recall",
        "similarity_clustered_graph_recall",
    ):
        row = QUERIES[name](spark, sf_small).first()
        assert row.recall >= 2 * 0.25, f"{name} recall {row.recall}"


def test_exact_dedup_counts(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    dedup = QUERIES["dedup_exact_text"](spark, sf_small)
    assert dedup.count() <= docs.count()
    assert dedup.agg(F.sum("n_copies")).first()[0] == docs.count()


def test_connected_components_multi_hop_chain(spark):
    # 1-2-3-4 chain (diameter 3, needs real propagation), {7,9} pair,
    # pair order/direction mixed on purpose.
    from msk_flink_streaming_cdk_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (9, 7)], ["doc_a", "doc_b"]
    )
    got = {
        (r.node, r.label)
        for r in connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (7, 7), (9, 7)}


def test_connected_components_runs_at_most_max_iter_rounds(spark):
    # On the path 0-1-...-11 each propagation round moves the minimum
    # label one hop, so after r rounds node i holds max(0, i - r): the
    # far end's label counts the rounds run. The paired convergence
    # probe must stop at max_iter rounds, odd caps included.
    from msk_flink_streaming_cdk_spark.operators.dedup import (
        connected_components,
    )

    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    for max_iter in (1, 3, 4):
        got = dict(
            tuple(r)
            for r in connected_components(pairs, max_iter=max_iter).collect()
        )
        assert (n - 1) - got[n - 1] == max_iter
        assert got == {i: max(0, i - max_iter) for i in range(n)}, max_iter


def test_connected_components_string_node_ids(spark):
    # ADVICE r5 (medium): the decimal label-sum convergence probe is
    # null for string labels under ANSI off, which made the loop
    # "converge" after one round and return wrong labels on any graph
    # needing >1 propagation hop. String-id graphs must take the
    # changed-rows probe and still reach the true fixpoint — same
    # chain shape as the numeric test, ids chosen so lexicographic
    # min-label needs 3 rounds to reach the chain's far end.
    from msk_flink_streaming_cdk_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("d", "c"), ("x", "w")],
        ["doc_a", "doc_b"],
    )
    got = {
        (r.node, r.label)
        for r in connected_components(pairs).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
        ("w", "w"), ("x", "w"),
    }


def test_star_components_match_propagation_on_random_graphs(spark):
    # Large-star/small-star contraction must produce the exact same
    # (node, component-min) labeling as min-label propagation on
    # arbitrary graphs — seeded Erdős–Rényi-ish samples with isolated
    # pairs, cliques, and chains mixed in.
    import random

    from msk_flink_streaming_cdk_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(1234)
    for n, n_edges in [(30, 15), (60, 50), (80, 200)]:
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(n_edges)
        ]
        edges = [(x, y) for x, y in edges if x != y]
        df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        prop = {(r.node, r.label) for r in connected_components(df).collect()}
        star = {
            (r.node, r.label)
            for r in connected_components_star(df).collect()
        }
        assert star == prop, f"n={n} m={n_edges}"


def test_star_components_chain_converges_in_log_rounds(spark):
    # The reason the star variant exists: a path graph has diameter n,
    # so propagation needs ~n rounds, while star contraction halves
    # path lengths every round — O(log^2 n). Pin the observable.
    from msk_flink_streaming_cdk_spark.operators.dedup import (
        connected_components_star,
    )

    n = 200
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["doc_a", "doc_b"]
    )
    labels, rounds = connected_components_star(chain, return_rounds=True)
    rows = labels.collect()
    assert len(rows) == n + 1
    assert all(r.label == 0 for r in rows)
    assert rounds <= 12, f"chain-{n} took {rounds} rounds"


def test_fuzzy_name_pairs_matches_bruteforce(spark):
    # Pigeonhole quarter-blocking must find EVERY same-length pair at
    # Levenshtein distance <= 1 (the blocking is exact for 1 edit, not
    # a recall trade-off). Mixed lengths, incl. ones not divisible by
    # 4; cross-length pairs are out of contract.
    from pyspark.sql import functions as F

    from msk_flink_streaming_cdk_spark.operators.dedup import (
        fuzzy_name_pairs,
    )

    names = [
        (1, "alpha-node-01"),
        (2, "alpha-node-02"),   # dist 1 to id 1
        (3, "alpha-node-11"),   # dist 1 to 1, 2
        (4, "alpha-yode-01"),   # dist 1 to 1
        (5, "betas-node-01"),   # dist >1 to most
        (6, "short"),
        (7, "shore"),           # dist 1 to 6 (len 5, q_len 2)
        (8, "completely-different-name"),
    ]
    df = spark.createDataFrame(names, "id long, name string")
    got = {
        (r.id_a, r.id_b)
        for r in fuzzy_name_pairs(df, "id", "name", max_dist=1).collect()
    }
    rows = df.collect()
    expect = set()
    import itertools

    def lev(a, b):
        # classic DP, small strings only
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    for x, y in itertools.combinations(rows, 2):
        a, b = (x, y) if x.id < y.id else (y, x)
        if len(a.name) == len(b.name) and lev(a.name, b.name) <= 1:
            expect.add((a.id, b.id))
    assert got == expect, (got, expect)


def test_int8_quantization_error_bound(spark, sf_small):
    # symmetric rounding quantization can never err more than half a
    # quantization step per component.
    from msk_flink_streaming_cdk_spark.registry import QUERIES

    rows = QUERIES["embedding_quantize_int8"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.max_abs_err <= r.scale / 2 + 1e-12, (
            r.vec_id,
            r.max_abs_err,
            r.scale,
        )


def test_pq_ann_recall_vs_bruteforce(spark, sf_small):
    # PQ-ANN (ADC + exact re-rank) must keep high recall at the
    # default m=16/ksub=16/rerank=16 dials; codebooks are
    # strided-init deterministic, so this is a stable bound.
    from msk_flink_streaming_cdk_spark.registry import QUERIES

    r = QUERIES["similarity_pq_recall"](spark, sf_small).collect()[0]
    assert r.n_exact > 0
    assert r.recall >= 0.8, f"PQ recall@5 {r.recall:.2f}"


def test_semantic_prune_drops_only_near_neighbors(spark, sf_small):
    # Every dropped vector must have a surviving same-cluster partner
    # with cosine >= the 0.4 threshold (the SemDeDup invariant: pruning
    # never removes a semantic singleton).
    import numpy as np

    from msk_flink_streaming_cdk_spark.registry import QUERIES
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table

    kept = QUERIES["dedup_semantic_prune"](spark, sf_small).collect()
    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=float)
        for r in load_table(spark, sf_small, "embeddings").collect()
    }
    assign = {
        r.vec_id: r.assigned_label
        for r in QUERIES["embedding_kmeans_assign"](spark, sf_small).collect()
    }
    kept_ids = {r.vec_id for r in kept}
    assert kept_ids  # never prunes everything
    dropped = set(emb) - kept_ids

    def cos(a, b):
        return float(
            emb[a] @ emb[b] / (np.linalg.norm(emb[a]) * np.linalg.norm(emb[b]))
        )

    for d in dropped:
        partners = [
            v
            for v in emb
            if v != d and assign[v] == assign[d] and round(cos(v, d), 6) >= 0.4
        ]
        assert partners, f"vec {d} dropped without a near neighbor"


def test_containment_catches_subdocument_quote(spark):
    # A short doc fully quoted inside a much longer one: Jaccard is low
    # (union is large) and the length band excludes the pair entirely,
    # but containment = 1.0 — the case this operator exists for.
    from msk_flink_streaming_cdk_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, quote, len(quote)),
            (2, f"{filler} {quote}", len(filler) + 1 + len(quote)),
            (3, "totally unrelated words only here", 33),
        ],
        "doc_id long, text string, n_chars long",
    )
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(docs, threshold=0.6).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert all(3 not in p for p in got)
    # the Jaccard path (length-banded) cannot see the same pair
    jac = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    assert (1, 2) not in jac


def test_pca_projection_matches_numpy(spark, sf_small):
    # The distributed sufficient-statistics path (partial Gram via
    # mapInPandas + driver power iteration) must reproduce numpy's
    # exact covariance eigenvectors: compare projections up to the
    # eigenvector sign, which the operator pins deterministically.
    import numpy as np

    from msk_flink_streaming_cdk_spark.registry import QUERIES
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table

    got = {
        r.vec_id: (r.pc1, r.pc2)
        for r in QUERIES["embedding_pca_project"](spark, sf_small).collect()
    }
    X = np.stack(
        [
            np.asarray(r.embedding, dtype=float)
            for r in load_table(spark, sf_small, "embeddings")
            .orderBy("vec_id")
            .collect()
        ]
    )
    ids = [
        r.vec_id
        for r in load_table(spark, sf_small, "embeddings")
        .orderBy("vec_id")
        .collect()
    ]
    C = np.cov(X, rowvar=False)
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1]
    mu = X.mean(0)
    for comp_i in range(2):
        v = vecs[:, order[comp_i]]
        if v[np.argmax(np.abs(v))] < 0:
            v = -v
        proj = (X - mu) @ v
        got_i = np.array([got[i][comp_i] for i in ids])
        assert np.allclose(got_i, proj, atol=1e-4), f"pc{comp_i+1}"


def test_pca_variance_audit_floor(spark, sf_small):
    # Driver-visible quality row for the PCA fit: the top-2 explained
    # variance ratio must clear a floor well above the 2/64 = 0.031 a
    # direction-free corpus would give (measured 0.0559 at sf0.001,
    # 0.0548 at sf0.01), and the total variance must match the exact
    # per-dimension aggregate to rounding.
    from msk_flink_streaming_cdk_spark.registry import QUERIES

    row = QUERIES["embedding_pca_variance_audit"](spark, sf_small).first()
    assert row.k == 2
    assert row.explained_ratio >= 0.045, row
    assert row.explained_ratio <= 1.0
    assert row.total_variance > 0


def test_logistic_frozen_score_matches_refit_decisions(spark, sf_small):
    # The frozen-coefficient scorer (the driver's hash-checked oracle
    # row) must agree with the live fit's decisions on nearly every
    # document — the frozen model was published FROM that fit, so
    # wholesale disagreement means the freeze drifted from the
    # training pipeline.
    from msk_flink_streaming_cdk_spark.registry import QUERIES
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table

    pred = {
        r.doc_id: r.pred_long
        for r in QUERIES["quality_logistic_score"](spark, sf_small).collect()
    }
    truth = {
        r.doc_id: r.n_chars > 300
        for r in load_table(spark, sf_small, "documents").collect()
    }
    agree = sum(pred[d] == truth[d] for d in pred) / len(pred)
    assert agree >= 0.9, agree


def test_bloom_decontamination_is_output_transparent(spark, sf_small):
    # The bloom pre-filter must not change the answer: false positives
    # die in the exact verify join, false negatives are impossible
    # (every true member sets all its bits). Equality with the exact
    # 8-gram query is the whole contract.
    from msk_flink_streaming_cdk_spark.registry import QUERIES

    exact = {
        (r.doc_id, r.n_overlap)
        for r in QUERIES["text_contamination_8gram"](spark, sf_small).collect()
    }
    bloom = {
        (r.doc_id, r.n_overlap)
        for r in QUERIES["text_contamination_bloom"](spark, sf_small).collect()
    }
    assert bloom == exact


def test_logistic_irls_matches_single_node_reference(spark, sf_small):
    # The distributed sufficient-statistics IRLS must agree with a
    # single-node numpy implementation of the SAME algorithm (zero
    # init, 8 damped-Newton steps, ridge 1e-3) to float tolerance,
    # and actually separate the classes it was given.
    import numpy as np

    from msk_flink_streaming_cdk_spark.registry import QUERIES
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table

    got = {
        r.term: r.value
        for r in QUERIES["quality_logistic_fit"](spark, sf_small).collect()
    }
    docs = load_table(spark, sf_small, "documents").collect()
    X = np.column_stack(
        [
            np.ones(len(docs)),
            [np.log1p(len(r.text.strip().split())) for r in docs],
            [
                len(r.text.replace(" ", "")) / len(r.text.strip().split())
                for r in docs
            ],
        ]
    )
    y = np.array([1.0 if r.n_chars > 300 else 0.0 for r in docs])
    beta = np.zeros(3)
    for _ in range(8):
        eta = X @ beta
        p = 1 / (1 + np.exp(-np.clip(eta, -30, 30)))
        w = np.maximum(p * (1 - p), 1e-9)
        z = eta + (y - p) / w
        A = X.T @ (X * w[:, None])
        beta = np.linalg.solve(A + 1e-3 * np.eye(3), X.T @ (w * z))
    assert abs(got["intercept"] - beta[0]) < 1e-4, (got, beta)
    assert abs(got["log_words"] - beta[1]) < 1e-4
    assert abs(got["mean_wl"] - beta[2]) < 1e-4
    assert got["train_accuracy"] >= 0.8
    # determinism across runs
    again = {
        r.term: r.value
        for r in QUERIES["quality_logistic_fit"](spark, sf_small).collect()
    }
    assert again == got


def test_pagerank_center_of_path_graph_outranks_ends(spark):
    from msk_flink_streaming_cdk_spark.registry.llm_q import (
        _PR_SCALE,
        _pagerank_ranks,
    )

    # Path graph 1-2-3: the center vertex must carry the highest rank;
    # symmetric ends must tie exactly (integer arithmetic).
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    ranks = {r.id: r.r for r in _pagerank_ranks(pairs).collect()}
    assert set(ranks) == {1, 2, 3}
    assert ranks[2] > ranks[1]
    assert ranks[1] == ranks[3]
    # Floor division only ever discards mass: total stays within one
    # micro-unit per node per iteration of the full scale.
    assert 0 < sum(ranks.values()) <= _PR_SCALE


def test_pagerank_star_center_dominates(spark):
    from msk_flink_streaming_cdk_spark.registry.llm_q import _pagerank_ranks

    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "doc_a long, doc_b long"
    )
    ranks = {r.id: r.r for r in _pagerank_ranks(pairs).collect()}
    leaves = [ranks[i] for i in range(1, 6)]
    assert all(ranks[0] > lv for lv in leaves)
    assert len(set(leaves)) == 1  # symmetric leaves tie bit-exactly


def test_mmr_first_pick_is_global_max_and_set_is_diverse(spark, sf_small):
    rows = QUERIES["similarity_mmr_diversified"](spark, sf_small).collect()
    assert len(rows) == 5
    assert len({r.vec_id for r in rows}) == 5
    by_rank = sorted(rows, key=lambda r: r.rank)
    # Rank 1 is the pure-relevance argmax: every later pick has
    # relevance <= the first (they were available and not chosen).
    assert all(by_rank[0].rel >= r.rel for r in by_rank[1:])
    # And MMR must match plain top-k on the HEAD only: ranks 2+ may
    # reorder for diversity, so the selected set generally differs
    # from the 5 highest-relevance candidates.
    topk = QUERIES["similarity_cosine_topk"](spark, sf_small)
    top1 = {
        r.vec_id
        for r in topk.filter(
            (F.col("query_id") == 0) & (F.col("rank") == 1)
        ).collect()
    }
    assert by_rank[0].vec_id in top1


def test_incremental_dedup_agrees_with_full_pair_graph(spark, sf_small):
    # The incremental (batch-vs-corpus) path must find exactly the
    # cross-set near-dup pairs the full self-join finds: filter the
    # full Jaccard pair graph to (corpus, incoming) pairs, take each
    # incoming doc's best match, and demand set equality.
    from msk_flink_streaming_cdk_spark.registry import QUERIES

    full = QUERIES["dedup_ngram_jaccard_pairs"](spark, sf_small).collect()
    cross = {}
    for r in full:
        for inc, corp in ((r.doc_a, r.doc_b), (r.doc_b, r.doc_a)):
            if inc % 5 == 0 and corp % 5 != 0:
                best = cross.get(inc)
                cand = (round(r.jaccard, 9), -corp)
                if best is None or cand > best:
                    cross[inc] = cand
    got = {
        r.doc_id: (round(r.jaccard, 9), -r.matched_doc)
        for r in QUERIES["dedup_incremental_new_vs_corpus"](
            spark, sf_small
        ).collect()
    }
    assert got == cross


def test_zorder_query_bucket_consistency(spark, sf_small):
    # file_bucket must be exactly zval >> 12 and both coordinates
    # recoverable from the interleave (de-interleave round-trip) —
    # the property that makes per-file zval ranges prune BOTH dims.
    from msk_flink_streaming_cdk_spark.registry import QUERIES

    rows = QUERIES["storage_zorder_events"](spark, sf_small).collect()
    assert rows
    for r in rows[:200]:
        assert r.file_bucket == r.zval >> 12
        x = sum(((r.zval >> (2 * i)) & 1) << i for i in range(10))
        y = sum(((r.zval >> (2 * i + 1)) & 1) << i for i in range(10))
        assert (x, y) == (r.x, r.y), r


def test_dsir_weights_favor_target_domain(spark, sf_small):
    # Semantic pin beyond oracle equality: documents IN the target
    # slice (lang='en') must average a higher hashed-unigram
    # log-likelihood ratio than documents outside it — the whole
    # point of importance weighting. (Individual docs can cross over;
    # the group means must separate.)
    from msk_flink_streaming_cdk_spark.registry import QUERIES

    w = QUERIES["text_dsir_importance_weights"](spark, sf_small)
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        "doc_id", "lang"
    )
    rows = (
        w.join(docs, "doc_id")
        .groupBy(F.col("lang") == "en")
        .agg(F.avg("logratio").alias("m"))
        .collect()
    )
    means = {r[0]: r.m for r in rows}
    assert means[True] > means[False], means


def test_narrow_when_tiny_layout_policy(spark):
    # Tiny frames collapse to one partition (iterative consumers run
    # single-task rounds); big frames keep their layout (distribution
    # is the point at scale).
    from msk_flink_streaming_cdk_spark.operators.util import (
        narrow_when_tiny,
    )

    small = narrow_when_tiny(spark.range(100).repartition(8))
    assert small.rdd.getNumPartitions() == 1
    assert small.count() == 100
    big = narrow_when_tiny(
        spark.range(200_000).repartition(8), max_rows=100_000
    )
    assert big.rdd.getNumPartitions() == 8
    assert big.count() == 200_000
    small.unpersist(), big.unpersist()


def test_minhash_estimate_audit_error_bounds(spark, sf_small):
    # The 16-perm signature-agreement estimator must track exact
    # Jaccard within its statistical error on the near-dup pairs:
    # per-pair stderr <= 0.125, measured MAE 0.037 / max 0.1 at
    # sf0.001 — pin with margin but well inside one stderr.
    from msk_flink_streaming_cdk_spark.registry import QUERIES

    r = QUERIES["dedup_minhash_estimate_audit"](spark, sf_small).first()
    assert r.n_pairs > 0
    assert r.mae <= 0.15, r
    assert r.max_err <= 0.35, r


def test_shared_memos_survive_clear_cache(spark, sf_small):
    # bench.py isolates queries with clearCache(); the maintained-
    # table memos must re-persist on next access instead of silently
    # degrading to per-consumer recompute (or erroring).
    from msk_flink_streaming_cdk_spark.registry.llm_q import (
        shared_corpus_labels,
        shared_pair_graph,
    )

    p1 = shared_pair_graph(spark, sf_small)
    n_pairs = p1.count()
    l1 = shared_corpus_labels(spark, sf_small)
    n_labels = l1.count()
    spark.catalog.clearCache()
    p2 = shared_pair_graph(spark, sf_small)
    assert p2.storageLevel.useMemory or p2.storageLevel.useDisk
    assert p2.count() == n_pairs
    l2 = shared_corpus_labels(spark, sf_small)
    assert l2.storageLevel.useMemory or l2.storageLevel.useDisk
    assert l2.count() == n_labels


# --- winnowing / CDC / BPE property gates -----------------------------------
# text_winnowing_fingerprints, text_cdc_duplicate_chunks, and
# text_bpe_learn_merges are fully oracle-checked; these tests pin the
# ALGORITHMIC claims the oracle can't express: winnowing's coverage
# guarantee, CDC's position independence, and that the shared
# doubled-space replace trick really is greedy left-to-right BPE.


def _write_docs(spark, tmp_path, texts):
    """Materialize a documents.parquet fixture-shaped table for
    registry queries that only need (doc_id, text)."""
    rows = [
        (i, t, "en", "test", len(t)) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    return str(tmp_path)


def _edge_docs_sf(spark, tmp_path, sf_small):
    """documents.parquet of shingle/rolling edge cases (empty text,
    sub-window word counts, whitespace/case quirks, multi-byte UTF-8,
    one verifiable near-dup pair), with every OTHER table symlinked
    from the real fixture so ``compare``'s DuckDB views bind."""
    import os

    from msk_flink_streaming_cdk_spark.sources.fixtures import TABLES

    texts = [
        "",  # empty -> split yields [''], whole-text shingle ''
        "one",
        "\tlead tab words",  # trim strips spaces only: leading '' token
        "alpha beta gamma delta",  # 4 words < k=5: whole-text shingle
        "alpha beta gamma delta eps",  # exactly k: one 5-shingle
        "a b c d e f g",  # 7 words < window=8: front-padded fold
        "a b c d e f g h",  # exactly the window: one rolling hash
        "Multi  spaces\tand MiXeD CaSe tokens here now",
        "héllo wörld ünïcode bytes test",  # multi-byte UTF-8
        # Unicode whitespace (NBSP, U+2028) + \v: RE2 \s and the
        # Spark-side ASCII splitter must BOTH keep these glued to
        # their neighbors (round-12 advice — Python str.split() used
        # to split on them and diverge from the oracle).
        "nbsp glued and line sep plus\x0bvtab words",
        # >32-byte shingles: the xxh64 STRIPE path inside the oracle
        " ".join(f"verylongword{i}alpha" for i in range(8)),
        " ".join(f"w{i}" for i in range(40)),  # near-dup pair: band
        " ".join(f"w{i}" for i in range(38)) + " z1 z2",  # + verify
    ]
    import pandas as pd

    # a FLAT parquet file (not a Spark part-file directory): the
    # DuckDB side of ``compare`` binds views on '<sf>/<table>.parquet'
    # exactly like the driver does.
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "test",
            "n_chars": [len(t) for t in texts],
        }
    ).astype({"doc_id": "int64", "n_chars": "int64"}).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    for t in TABLES:
        if t != "documents":
            os.symlink(
                f"{sf_small}/{t}.parquet", f"{tmp_path}/{t}.parquet"
            )
    return str(tmp_path)


def test_hash_replay_oracles_on_edge_fixture(spark, tmp_path, sf_small):
    """The round-12 hash-replay oracles (MinHash-LSH, SimHash,
    rolling fingerprints) hash-match Spark on the EDGE corpus: the
    shipped fixtures never exercise the short-document branches
    (whole-text shingle for < k words, front-zero-padded rolling fold
    for < window words, empty text), so this pins those paths in both
    engines at once."""
    from tests.oracle import compare

    sf = _edge_docs_sf(spark, tmp_path, sf_small)
    for name in (
        "dedup_minhash_lsh_pairs",
        "dedup_minhash_recall",
        "dedup_minhash_estimate_audit",
        "dedup_simhash_pairs",
        "dedup_simhash_recall",
        "text_rolling_fingerprints",
    ):
        compare(QUERIES[name](spark, sf), ORACLES[name], sf)


def test_winnowing_guarantee_shared_run(spark, tmp_path):
    """Any shared run of >= w+k-1 = 7 words must yield at least one
    identical fingerprint in both docs, wherever the run sits."""
    import random

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    shared = [rng.choice(vocab) for _ in range(12)]
    a = [rng.choice(vocab) for _ in range(31)] + shared + [
        rng.choice(vocab) for _ in range(9)
    ]
    b = [rng.choice(vocab) for _ in range(4)] + shared + [
        rng.choice(vocab) for _ in range(26)
    ]
    sf = _write_docs(spark, tmp_path, [" ".join(a), " ".join(b)])
    fp = QUERIES["text_winnowing_fingerprints"](spark, sf).collect()
    by_doc = {0: set(), 1: set()}
    for r in fp:
        by_doc[r.doc_id].add(r.gram_md5)
    assert by_doc[0] & by_doc[1], (
        "winnowing must select a common fingerprint inside a shared"
        " 12-word run"
    )


def test_cdc_shared_passage_position_independent(spark, tmp_path):
    """A passage embedded at DIFFERENT offsets in two documents must
    surface as >= 1 common chunk: boundaries are content-defined, so
    chunk identity survives arbitrary repositioning."""
    import random

    rng = random.Random(11)
    vocab = ["scan", "merge", "hash", "probe", "spill", "sort", "agg"]
    passage = " ".join(rng.choice(vocab) for _ in range(40))
    pre_a = " ".join(rng.choice(vocab) for _ in range(3))
    pre_b = " ".join(rng.choice(vocab) for _ in range(29))
    post = " ".join(rng.choice(vocab) for _ in range(10))
    sf = _write_docs(
        spark,
        tmp_path,
        [f"{pre_a} {passage} {post}", f"{pre_b} {passage}"],
    )
    out = QUERIES["text_cdc_duplicate_chunks"](spark, sf).collect()
    assert out and any(r.n_docs == 2 for r in out), (
        "CDC must find a chunk shared by both docs despite the offset"
        " shift"
    )


def test_bpe_learn_merges_matches_python_reference(spark, sf_small):
    """The registered query's replace-trick merges equal a plain
    Python BPE (greedy left-to-right pair fusion) on the same corpus
    — validating the string-algebra encoding, not just cross-engine
    agreement on it."""
    import collections
    import re

    import pandas as pd

    docs = pd.read_parquet(f"{sf_small}/documents.parquet")
    words = collections.Counter()
    for t in docs["text"]:
        for w in t.strip().split():
            if re.fullmatch("[a-z]+", w):
                words[w] += 1
    vocab = sorted(words.items(), key=lambda kv: (-kv[1], kv[0]))[:200]
    seqs = [(list(w) + ["_"], c) for w, c in vocab]
    expect = []
    for rank in range(1, 7):
        cnt = collections.Counter()
        for toks, c in seqs:
            for a, b in zip(toks, toks[1:]):
                cnt[(a, b)] += c
        (a, b), n = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((rank, f"{a} {b}", a + b, n))
        new = []
        for toks, c in seqs:
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            new.append((out, c))
        seqs = new
    got = [
        (r.merge_rank, r.pair, r.merged, r.pair_count)
        for r in QUERIES["text_bpe_learn_merges"](spark, sf_small)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == expect


def test_winnowing_pairs_recall_vs_exact(spark, sf_small):
    """Winnowing candidate pairs must recover >= 90% of the exact
    banded-Jaccard near-dup pairs (MOSS-style candidate generation
    is approximate by design — the floor pins its quality)."""
    exact = _pairs(QUERIES["dedup_ngram_jaccard_pairs"](spark, sf_small))
    cand = _pairs(QUERIES["dedup_winnowing_pairs"](spark, sf_small))
    assert exact, "fixture should contain injected near-dups"
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.9, f"winnowing-pair recall {recall:.2f}"


def test_kcore_four_rounds_reach_fixpoint(spark, sf_small, sf_medium):
    """The registered 4-round peeling must equal the true k-core
    fixpoint (pure-Python peeling to convergence on the same pair
    graph) — guarding the unroll depth against scale-dependent
    under-iteration."""
    import collections

    for sf in (sf_small, sf_medium):
        pairs = QUERIES["dedup_ngram_jaccard_pairs"](spark, sf).collect()
        adj = collections.defaultdict(set)
        for r in pairs:
            adj[r.doc_a].add(r.doc_b)
            adj[r.doc_b].add(r.doc_a)
        nodes = set(adj)
        while True:
            drop = {
                n
                for n in nodes
                if sum(1 for m in adj[n] if m in nodes) < 2
            }
            if not drop:
                break
            nodes -= drop
        expect = {
            n: sum(1 for m in adj[n] if m in nodes) for n in nodes
        }
        got = {
            r.doc_id: r.core_degree
            for r in QUERIES["graph_kcore_mirror_clusters"](
                spark, sf
            ).collect()
        }
        assert got == expect


def test_cut_lineage_reliable_checkpoint_path(tmp_path):
    # cut_lineage must switch to reliable checkpoint() when a
    # checkpoint dir is configured (the 1000-executor-preemptible
    # posture: localCheckpoint blocks die with their executor; a
    # reliable checkpoint survives). setCheckpointDir is sticky on a
    # SparkContext, so this runs in a SUBPROCESS with its own session
    # and asserts (a) identical CC labels to the fallback path and
    # (b) checkpoint files actually written to the dir.
    import json
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        f"""
        import glob, json
        from pyspark.sql import SparkSession
        from msk_flink_streaming_cdk_spark.operators.dedup import (
            connected_components,
        )
        spark = (
            SparkSession.builder.master("local[4]")
            .config("spark.sql.shuffle.partitions", "4")
            .getOrCreate()
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
            ["doc_a", "doc_b"],
        )
        local = sorted(
            (r.node, r.label)
            for r in connected_components(pairs, "doc_a", "doc_b").collect()
        )
        spark.sparkContext.setCheckpointDir({str(tmp_path / "ckpt")!r})
        reliable = sorted(
            (r.node, r.label)
            for r in connected_components(pairs, "doc_a", "doc_b").collect()
        )
        files = glob.glob({str(tmp_path / "ckpt")!r} + "/*/rdd-*")
        print(json.dumps({{
            "equal": local == reliable,
            "labels": reliable,
            "n_ckpt_rdds": len(files),
        }}))
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["equal"], res
    assert res["labels"] == [
        [1, 1], [2, 1], [3, 1], [10, 10], [11, 10],
        [20, 20], [21, 20], [22, 20], [23, 20],
    ]
    assert res["n_ckpt_rdds"] > 0, "reliable checkpoint() not used"


def test_winnow_and_cdc_helpers_match_python_on_edge_cases(spark):
    # The shared batch/stream helpers against independent pure-Python
    # references on adversarial inputs: empty text, below the length
    # gates, exact gate boundaries, unicode, repeated words, and
    # whitespace runs (\\s+ tokenization must agree with Python
    # split()).
    import hashlib

    from msk_flink_streaming_cdk_spark.operators.dedup import (
        cdc_chunks,
        winnow_fingerprints,
    )

    def py_winnow(text):
        w = text.strip().split()
        if len(w) < 7:
            return set()
        keys = [
            hashlib.md5(" ".join(w[i : i + 4]).encode()).hexdigest()
            + str(99999 - (i + 1)).zfill(5)
            for i in range(len(w) - 3)
        ]
        return {min(keys[s : s + 4])[:32] for s in range(len(keys) - 3)}

    def py_cdc(text):
        n = len(text)
        if n < 8:
            return []
        bd = [1] + [
            i
            for i in range(2, n - 6)
            if hashlib.md5(text[i - 1 : i + 7].encode()).hexdigest()[0]
            == "0"
        ]
        out = []
        for j, b in enumerate(bd):
            e = bd[j + 1] if j + 1 < len(bd) else n + 1
            out.append(text[b - 1 : b - 1 + min(e - b, 64)])
        return out

    texts = [
        "",
        "   ",
        "one two three four five six",          # 6 words: below gate
        "one two three four five six seven",    # exactly 7: at gate
        "a a a a a a a a a a a a",               # heavy repeats
        "tab\tand  double  spaces   mixed words here now ok",
        "zeta été café naïve words again seven eight",
        "x" * 7,                                 # 7 chars: below CDC gate
        "x" * 8,                                 # exactly 8: at CDC gate
        ("word salad " * 40).strip(),            # long, repetitive
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    got_fps = {}
    for r in winnow_fingerprints(df).collect():
        got_fps.setdefault(r.doc_id, set()).add(r.h)
    want_fps = {
        i: py_winnow(t) for i, t in enumerate(texts) if py_winnow(t)
    }
    assert got_fps == want_fps

    got_ch = {}
    for r in cdc_chunks(df).collect():
        got_ch.setdefault(r.doc_id, []).append((r.chunk_md5, r.clen))
    want_ch = {}
    for i, t in enumerate(texts):
        ch = py_cdc(t)
        if ch:
            want_ch[i] = [
                (hashlib.md5(c.encode()).hexdigest(), len(c)) for c in ch
            ]
    # chunk order within a doc is not part of the contract; compare as
    # multisets per doc
    assert {k: sorted(v) for k, v in got_ch.items()} == {
        k: sorted(v) for k, v in want_ch.items()
    }


def _brute_spans(docs, T=40, min_docs=2):
    """Pure-Python reference for duplicate_substring_spans."""
    pos = []
    for did, text in docs:
        for p in range(1, len(text) - T + 2):
            pos.append((did, p, text[p - 1 : p - 1 + T]))
    by_gram = {}
    for did, p, g in pos:
        by_gram.setdefault(g, set()).add(did)
    dup = {g for g, ds in by_gram.items() if len(ds) >= min_docs}
    starts = {}
    for did, p, g in pos:
        if g in dup:
            starts.setdefault(did, []).append(p)
    out = []
    for did, ps in starts.items():
        ps.sort()
        lo = prev = ps[0]
        for p in ps[1:]:
            if p == prev + 1:
                prev = p
                continue
            out.append((did, lo, prev + T - 1, prev + T - lo))
            lo = prev = p
        out.append((did, lo, prev + T - 1, prev + T - lo))
    return sorted(out)


def _merge_intervals(spans):
    """Union of [s, e] char intervals (overlapping OR adjacent merge)."""
    out = []
    for s, e in sorted(spans):
        if out and s <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


# Overlapping-island construction (ADVICE r10 repro): doc 9 is 49
# chars; doc 10 shares its chars [1, 40], doc 11 shares its chars
# [10, 49]. Doc 9 then carries two position islands ({1} and {10})
# whose CHARACTER spans [1, 40] and [10, 49] overlap — any consumer
# that sums or splices raw spans double-counts 31 chars (the old code
# reported chars_removed=80 on the 49-char doc).
_OVL_BASE = "OvErLaP iSlAnD 0123456789 abcdefghij KLMNOPQRSTUVWXYZ"[:49]


_SPAN_EDGE_DOCS = [
    # shared 60-char passage in the middle of two docs (one maximal span)
    (1, "A" * 10 + "the quick brown fox jumps over the lazy dog again and ok!!" + "B" * 10),
    (2, "C" * 25 + "the quick brown fox jumps over the lazy dog again and ok!!" + "D" * 3),
    # exact duplicate pair: whole doc is one span
    (3, "x y z " * 12),
    (4, "x y z " * 12),
    # repeat WITHIN one doc only -> not duplicated (min_docs=2 distinct)
    (5, ("q" * 45) + "SEP" + ("q" * 45)),
    # shorter than the 40-char floor -> cannot participate
    (6, "tiny document under the floor"),
    # two disjoint shared passages with doc 8 -> two spans
    (7, "E" * 5 + "0123456789abcdefghijklmnopqrstuvwxyzABCD" + "F" * 9 + "ZYXWVUTSRQPONMLKJIHGFEDCBA9876543210zyxw" + "G" * 5),
    (8, "H" * 11 + "0123456789abcdefghijklmnopqrstuvwxyzABCD" + "I" * 17 + "ZYXWVUTSRQPONMLKJIHGFEDCBA9876543210zyxw" + "J" * 2),
    # OVERLAPPING islands in char space (see _OVL_BASE comment): doc
    # 9's spans [1, 40] (shared with 10) and [10, 49] (shared with 11)
    # overlap by 31 chars.
    (9, _OVL_BASE),
    (10, "T" * 7 + _OVL_BASE[:40] + "U" * 2),
    (11, "V" * 4 + _OVL_BASE[9:] + "W" * 6),
]


def test_duplicate_substring_spans_vs_python_reference(spark):
    from msk_flink_streaming_cdk_spark.operators.dedup import (
        duplicate_substring_spans,
    )

    df = spark.createDataFrame(_SPAN_EDGE_DOCS, "doc_id long, text string")
    want = _brute_spans(_SPAN_EDGE_DOCS)
    assert want, "edge fixture must produce spans"
    # doc 5's within-doc repeat must NOT appear; doc 6 is under floor
    assert all(d not in (5, 6) for d, *_ in want)
    # docs 7/8 carry two disjoint spans each
    assert sum(1 for d, *_ in want if d == 7) == 2
    for strategy in ("gram", "doubling"):
        got = sorted(
            tuple(r)
            for r in duplicate_substring_spans(
                df, min_len=40, strategy=strategy
            ).collect()
        )
        assert got == want, f"strategy={strategy}"


def test_duplicate_substring_spans_strategies_agree_on_fixture(
    spark, sf_small
):
    from msk_flink_streaming_cdk_spark.operators.dedup import (
        duplicate_substring_spans,
    )
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_small, "documents")
    gram = sorted(
        tuple(r)
        for r in duplicate_substring_spans(
            docs, min_len=40, strategy="gram"
        ).collect()
    )
    dbl = sorted(
        tuple(r)
        for r in duplicate_substring_spans(
            docs, min_len=40, strategy="doubling"
        ).collect()
    )
    assert gram and gram == dbl


def test_duplicate_substring_spans_rejects_bad_args(spark):
    import pytest as _pytest

    from msk_flink_streaming_cdk_spark.operators.dedup import (
        duplicate_substring_spans,
    )

    df = spark.createDataFrame([(1, "a" * 50)], "doc_id long, text string")
    with _pytest.raises(ValueError):
        duplicate_substring_spans(df, strategy="suffix")
    with _pytest.raises(ValueError):
        # 40's binary components are {32, 8}; seed 16 does not divide 8
        duplicate_substring_spans(df, min_len=40, strategy="doubling", seed_len=16)


def test_strip_suffix_spans_invariants(spark, sf_small):
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table

    text_by_id = {
        r.doc_id: r.text
        for r in load_table(spark, sf_small, "documents").collect()
    }
    spans_per_doc = {}
    for r in QUERIES["dedup_suffix_duplicate_spans"](
        spark, sf_small
    ).collect():
        spans_per_doc.setdefault(r.doc_id, []).append(
            (r.span_start, r.span_end)
        )
    out = QUERIES["pipeline_strip_suffix_spans"](spark, sf_small).collect()
    assert len(out) == len(text_by_id)
    assert any(r.n_spans > 0 for r in out)
    for r in out:
        text = text_by_id[r.doc_id]
        # the strip contract is over the interval UNION of the
        # islands (islands < 40 chars apart overlap in char space)
        spans = _merge_intervals(spans_per_doc.get(r.doc_id, []))
        assert r.n_spans == len(spans)
        assert r.chars_removed == sum(e - s + 1 for s, e in spans)
        assert r.clean_len == len(text) - r.chars_removed
        # independent splice: drop exactly the span chars, keep order
        keep = []
        pos = 1
        for s, e in spans:
            keep.append(text[pos - 1 : s - 1])
            pos = e + 1
        keep.append(text[pos - 1 :])
        assert r.clean_text == "".join(keep)


def test_strip_spans_overlapping_islands(spark, tmp_path):
    """ADVICE r10 high: two islands overlapping in char space must be
    interval-unioned before counting/splicing — Spark, the pure-Python
    contract, AND the registered DuckDB oracle must all agree (the old
    oracle's negative-length substr walked BACKWARDS and resurrected
    span-covered chars)."""
    import duckdb

    from msk_flink_streaming_cdk_spark.operators.dedup import (
        strip_substring_spans,
    )
    from tests.oracle import canonicalize

    df = spark.createDataFrame(_SPAN_EDGE_DOCS, "doc_id long, text string")
    out = {r.doc_id: r for r in strip_substring_spans(df).collect()}
    # doc 9: spans [1,40] + [10,49] union to ONE region covering the
    # whole 49-char doc.
    r9 = out[9]
    assert (r9.n_spans, r9.chars_removed, r9.clean_len, r9.clean_text) == (
        1, 49, 0, ""
    )
    # every doc: clean_len + chars_removed == len(text), and the
    # splice equals an independent interval-union removal.
    want = _brute_spans(_SPAN_EDGE_DOCS)
    spans_by_doc = {}
    for d, s, e, _l in want:
        spans_by_doc.setdefault(d, []).append((s, e))
    for did, text in _SPAN_EDGE_DOCS:
        r = out[did]
        merged = _merge_intervals(spans_by_doc.get(did, []))
        assert r.clean_len + r.chars_removed == len(text)
        assert r.n_spans == len(merged)
        keep, pos = [], 1
        for s, e in merged:
            keep.append(text[pos - 1 : s - 1])
            pos = e + 1
        keep.append(text[pos - 1 :])
        assert r.clean_text == "".join(keep)
    # cross-engine: the registered oracle on the SAME edge docs.
    pq = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(pq)
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT doc_id, text FROM '{pq}/*.parquet'"
        )
        cur = con.execute(ORACLES["pipeline_strip_suffix_spans"])
        d_cols = [d[0] for d in cur.description]
        d_rows = cur.fetchall()
    finally:
        con.close()
    s_cols = ["doc_id", "n_spans", "chars_removed", "clean_len", "clean_text"]
    s_rows = [tuple(out[did]) for did, _ in _SPAN_EDGE_DOCS]
    assert sorted(s_cols) == sorted(d_cols)
    _, s_canon = canonicalize(s_cols, s_rows)
    _, d_canon = canonicalize(d_cols, d_rows)
    assert s_canon == d_canon


def test_span_floor_profile_union_coverage(spark):
    """chars_covered is the UNION of island char intervals: doc 9's
    overlapping [1,40]+[10,49] contribute 49, not 80."""
    from msk_flink_streaming_cdk_spark.operators.dedup import (
        span_floor_profile,
    )

    ovl_only = [d for d in _SPAN_EDGE_DOCS if d[0] in (9, 10, 11)]
    df = spark.createDataFrame(ovl_only, "doc_id long, text string")
    rows = {
        r.floor: r
        for r in span_floor_profile(df, floors=(40,)).collect()
    }
    r = rows[40]
    # doc 9 union 49 + doc 10 span [8,47] 40 + doc 11 span [5,44] 40
    assert (r.n_docs, r.n_spans, r.chars_covered) == (3, 4, 129)
    # dup_positions counts island starts unmerged: 2 + 1 + 1
    assert r.dup_positions == 4


def test_blas_topk_identical_to_bruteforce(spark, sf_small):
    brute = sorted(
        tuple(r)
        for r in QUERIES["similarity_cosine_topk"](
            spark, sf_small
        ).collect()
    )
    blas = sorted(
        tuple(r)
        for r in QUERIES["similarity_blas_topk"](spark, sf_small).collect()
    )
    assert brute == blas and len(blas) == 50


def test_blas_topk_zero_norm_and_tie_parity(spark):
    """ADVICE r10 low: zero-norm and tie handling must agree between
    the BLAS and Catalyst paths. Measured semantics (pinned here): a
    zero-norm corpus vector scores NULL in BOTH — Catalyst's double
    Divide returns NULL on a zero divisor (not Java NaN), and the
    BLAS path's numpy NaN becomes Arrow null on the pandas->Spark
    hop — so it DESC-ranks LAST in both. Exact score ties resolve by
    vec_id identically (the BLAS path no longer rounds half-even
    locally; the shared F.round HALF_UP in _topk_per_query is the
    only rounding).

    ADVICE r11 medium: the corpus is coalesced to ONE partition so a
    single mapInPandas block holds all 7 rows and the len(idx) > k
    pruning branch actually executes — on local[*] the 7-row
    createDataFrame used to split across partitions, every block had
    <= k candidates, and the zero-norm threshold bug (NaN mapped to
    +inf stealing a top-k slot) passed this test vacuously."""
    from msk_flink_streaming_cdk_spark.operators.similarity import (
        cosine_topk_blas,
        cosine_topk_bruteforce,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0]),       # zero norm -> NaN cosine
        (2, [2.0, 0.0, 0.0]),       # cosine 1.0 with query
        (3, [0.5, 0.0, 0.0]),       # cosine 1.0 tie -> vec_id break
        (4, [1.0, 1.0, 0.0]),
        (5, [-1.0, 0.0, 0.0]),
        (6, [3.0, 0.0, 0.0]),       # another exact 1.0 tie
        (7, [0.0, 0.0, 0.0]),       # second zero norm: k=6 below
                                    # keeps len(idx) > k so the prune
                                    # branch must EMIT a NaN into the
                                    # global top-k (NULL tie -> vec_id)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)
    queries = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    brute = [
        tuple(r)
        for r in cosine_topk_bruteforce(corpus, queries, k=4)
        .orderBy("rank")
        .collect()
    ]
    blas = [
        tuple(r)
        for r in cosine_topk_blas(corpus, queries, k=4)
        .orderBy("rank")
        .collect()
    ]
    assert brute == blas
    # the 1.0 ties in vec_id order, then 0.707; the zero-norm vector's
    # NULL score ranks last (outside the top 4) in BOTH paths.
    assert [t[1] for t in brute] == [2, 3, 6, 4]
    # k=6 covers every candidate: the zero-norm NULL must now APPEAR
    # (at the last rank) — pins the unconditional NaN emission, not
    # just non-displacement.
    brute6 = [
        tuple(r)
        for r in cosine_topk_bruteforce(corpus, queries, k=6)
        .orderBy("rank")
        .collect()
    ]
    blas6 = [
        tuple(r)
        for r in cosine_topk_blas(corpus, queries, k=6)
        .orderBy("rank")
        .collect()
    ]
    assert brute6 == blas6
    assert [t[1] for t in brute6] == [2, 3, 6, 4, 5, 1]
    assert brute6[-1][2] is None


def test_blas_topk_enforces_max_query_batch(spark):
    """VERDICT r12 #2: the bounded-query-batch contract is enforced,
    not just documented — an oversized query set must raise with
    chunking guidance BEFORE the driver-side collect, and the probe
    must not reject a batch exactly at the cap."""
    import pytest

    from msk_flink_streaming_cdk_spark.operators.similarity import (
        cosine_topk_blas,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(5)],
        "query_id long, query_vec array<double>",
    )
    with pytest.raises(ValueError, match="max_query_batch"):
        cosine_topk_blas(corpus, queries, k=2, max_query_batch=4)
    # exactly at the cap: runs fine
    assert (
        cosine_topk_blas(corpus, queries, k=2, max_query_batch=5).count()
        == 10
    )


def test_int8_lsh_dim_mismatch_raises_clearly(spark):
    """ADVICE r12 low: a dim= that disagrees with the embedding width
    must fail with an actionable message naming both widths, not an
    opaque numpy shape error inside the Arrow UDF."""
    from pyspark.errors import PythonException

    from msk_flink_streaming_cdk_spark.operators.similarity import (
        int8_lsh_ann_topk,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "query_id long, query_vec array<double>"
    )
    import pytest

    with pytest.raises(PythonException, match="dim=3"):
        int8_lsh_ann_topk(corpus, queries, k=2, dim=64).collect()
    # matching dim works
    assert int8_lsh_ann_topk(corpus, queries, k=2, dim=3).count() >= 0


def test_prefix_filter_finds_cross_band_pairs(spark):
    # A doc and its 2x-length superset sit outside the +/-16-char
    # band but at J = 0.5 exactly; the prefix filter must find it,
    # and a disjoint doc must not pair.
    from msk_flink_streaming_cdk_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    base = " ".join(f"w{i}" for i in range(40))
    double = base + " " + " ".join(f"x{i}" for i in range(40))
    other = " ".join(f"z{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, double), (3, other)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_filter_jaccard_pairs(df, threshold=0.5).collect()
    }
    # shingle counts: base 36, double 76 (includes the 4 bridge
    # shingles), intersection 36 -> J = 36/76 < 0.5; use threshold on
    # the actual value instead: recompute expected exactly.
    b = set()
    w = base.split()
    for i in range(len(w) - 4):
        b.add(" ".join(w[i : i + 5]))
    d = set()
    w2 = double.split()
    for i in range(len(w2) - 4):
        d.add(" ".join(w2[i : i + 5]))
    expect_j = len(b & d) / len(b | d)
    if expect_j >= 0.5:
        assert (1, 2) in got and abs(got[(1, 2)] - expect_j) < 1e-12
    else:
        got2 = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in prefix_filter_jaccard_pairs(
                df, threshold=0.4
            ).collect()
        }
        assert (1, 2) in got2 and abs(got2[(1, 2)] - expect_j) < 1e-12
    assert not any(3 in p for p in got)


def test_prefix_len_never_below_lossless_bound(spark):
    """ADVICE r10 low: the prefix length must never round BELOW the
    lossless |x| - ceil(t|x|) + 1 bound (FP-dirty t*sz over-ceiled
    before the epsilon fix, e.g. ceil(0.1*30) = 4). Pins the Spark
    expression to the exact-rational bound for every (t, sz): equal,
    or at most one longer on the FP-dirty points."""
    from fractions import Fraction

    from msk_flink_streaming_cdk_spark.operators.dedup import (
        _prefix_len_col,
    )

    sizes = spark.range(1, 513).select(F.col("id").cast("int").alias("sz"))
    for t in (0.1, 0.2, 0.3, 0.5, 0.7, 0.9):
        got = {
            r.sz: r.plen
            for r in sizes.select(
                "sz", _prefix_len_col(t).alias("plen")
            ).collect()
        }
        ft = Fraction(t).limit_denominator(10)
        for sz in range(1, 513):
            exact = sz - (-(-(ft.numerator * sz) // ft.denominator)) + 1
            assert exact <= got[sz] <= exact + 1, (t, sz, got[sz], exact)


def test_prefix_filter_superset_of_banded(spark, sf_small):
    banded = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_ngram_jaccard_pairs"](
            spark, sf_small
        ).collect()
    }
    unbanded = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_prefix_filter_pairs"](
            spark, sf_small
        ).collect()
    }
    assert banded and banded <= unbanded


def test_span_floor_profile_strategies_agree(spark, sf_small):
    from msk_flink_streaming_cdk_spark.operators.dedup import (
        span_floor_profile,
    )
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_small, "documents")
    gram = sorted(
        tuple(r)
        for r in span_floor_profile(docs, strategy="gram").collect()
    )
    dbl = sorted(
        tuple(r)
        for r in span_floor_profile(docs, strategy="doubling").collect()
    )
    assert gram == dbl and len(gram) == 3
    # floors are nested: every doc duplicated at 40 is duplicated at 16
    by_floor = {r[0]: r for r in gram}
    assert by_floor[16][1] >= by_floor[24][1] >= by_floor[40][1]
    assert by_floor[40][1] > 0


def test_nndescent_graph_properties(spark, sf_small):
    """NN-Descent k-NN graph invariants: rank 1..k per node, no self
    edges, degree <= k, deterministic across runs, and the descent
    rounds never LOWER recall vs the raw LSH init (refinement only
    adds better-or-equal neighbors under the shared total order)."""
    from msk_flink_streaming_cdk_spark.operators.similarity import (
        cosine_topk_bruteforce,
        nndescent_knn_graph,
    )
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_small, "embeddings").select(
        "vec_id", "embedding"
    )
    g = nndescent_knn_graph(emb, k=5, n_rounds=2)
    rows = g.collect()
    by_src = {}
    for r in rows:
        assert r.vec_id != r.nbr_id
        assert 1 <= r.rank <= 5
        assert -1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9
        by_src.setdefault(r.vec_id, []).append((r.rank, r.nbr_id))
    assert all(len(v) <= 5 for v in by_src.values())
    # deterministic rerun
    again = sorted(tuple(r) for r in nndescent_knn_graph(
        emb, k=5, n_rounds=2
    ).collect())
    assert again == sorted(tuple(r) for r in rows)

    # recall vs brute force on every node, init vs descended
    queries = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    brute = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_bruteforce(emb, queries, k=5).collect()
    }

    def edge_set(graph):
        return {(r.vec_id, r.nbr_id) for r in graph.collect()}

    init_rec = len(
        edge_set(nndescent_knn_graph(emb, k=5, n_rounds=0)) & brute
    ) / len(brute)
    desc_rec = len(edge_set(g) & brute) / len(brute)
    assert desc_rec >= init_rec
    assert desc_rec >= 0.85, f"descended recall {desc_rec:.3f}"


def test_nnd_recall_query_shape(spark, sf_small):
    row = QUERIES["similarity_nnd_recall"](spark, sf_small).collect()
    assert len(row) == 1
    r = row[0]
    assert r.n_exact == 125  # 25 sample nodes x top-5
    assert r.recall >= 0.85


def test_graph_search_topk_recall_and_determinism(spark, sf_small):
    """Graph-search ANN (VERDICT r11 #4): beam search over the
    NN-Descent graph must hit the brute-force top-5 at the family's
    recall floor, produce exactly k rows per query under the shared
    (cosine DESC, vec_id ASC) order, and be deterministic across
    runs (seeded LSH seeding + deterministic graph)."""
    from msk_flink_streaming_cdk_spark.operators.similarity import (
        cosine_topk_bruteforce,
        graph_search_topk,
        nndescent_knn_graph,
    )
    from msk_flink_streaming_cdk_spark.operators.util import (
        materialize_once,
    )
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_small, "embeddings").select(
        "vec_id", "embedding"
    )
    graph = materialize_once(nndescent_knn_graph(emb, k=5, n_rounds=2))
    queries = emb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = graph_search_topk(emb, queries, graph, k=5, n_hops=2)
    rows = got.collect()
    per_q = {}
    for r in rows:
        assert r.query_id != r.vec_id
        per_q.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    assert len(per_q) == 25 and all(len(v) == 5 for v in per_q.values())
    brute = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    rec = len({(r.query_id, r.vec_id) for r in rows} & brute) / len(brute)
    assert rec >= 0.8, f"graph-search recall {rec:.3f}"
    again = sorted(
        tuple(r)
        for r in graph_search_topk(
            emb, queries, graph, k=5, n_hops=2
        ).collect()
    )
    assert again == sorted(tuple(r) for r in rows)
    graph.unpersist()


def test_nnd_merge_equals_rebuild_and_monotone(spark, sf_small):
    """Incremental k-NN merge (VERDICT r11 #6). Init-tier exactness:
    merged == rebuilt-from-scratch at the same fixed n_bits
    (per-node sign-LSH buckets don't depend on the rest of the
    corpus, and topk(topk(A) ∪ B) == topk(A ∪ B)). Untouched nodes
    pass through byte-equal. expand_hops=1 adds candidates, which
    under exact re-ranking can only move each node's top-k TOWARD
    the true neighbors — recall is monotone in the candidate set."""
    from msk_flink_streaming_cdk_spark.operators.similarity import (
        cosine_topk_bruteforce,
        nndescent_knn_graph,
        nndescent_merge_batch,
    )
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_small, "embeddings").select(
        "vec_id", "embedding"
    )
    old = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    g_old = nndescent_knn_graph(old, k=5, n_rounds=0, n_bits=3)
    merged = nndescent_merge_batch(g_old, old, batch, k=5, n_bits=3)
    rebuilt = nndescent_knn_graph(emb, k=5, n_rounds=0, n_bits=3)
    m = sorted(tuple(r) for r in merged.collect())
    r = sorted(tuple(r) for r in rebuilt.collect())
    assert m == r

    # recall monotone under the local-descent expansion
    queries = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    brute = {
        (q.query_id, q.vec_id)
        for q in cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    g1 = nndescent_merge_batch(
        g_old, old, batch, k=5, n_bits=3, expand_hops=1
    )
    rec0 = len({(x.vec_id, x.nbr_id) for x in merged.collect()} & brute)
    rec1 = len({(x.vec_id, x.nbr_id) for x in g1.collect()} & brute)
    assert rec1 >= rec0


def test_int8_embedding_pairs_recall_floor(spark, sf_small):
    """The reproducible int8-plane pair variant must keep the gaussian
    variant's recall class against the exact all-pairs sweep (both are
    16-table sign-LSH; only the plane provenance differs). Precision
    is exact by construction (every candidate is cosine-verified)."""
    from msk_flink_streaming_cdk_spark.operators.similarity import (
        embedding_cosine_pairs,
        unit_vectors,
    )
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_small, "embeddings").select(
        "vec_id", "embedding"
    )
    unit = unit_vectors(emb)
    from msk_flink_streaming_cdk_spark.functions.vectors import (
        dot_product_col,
    )

    a = unit.select(F.col("vec_id").alias("vec_a"), F.col("u").alias("ua"))
    b = unit.select(F.col("vec_id").alias("vec_b"), F.col("u").alias("ub"))
    brute = {
        (r.vec_a, r.vec_b)
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            dot_product_col(F.col("ua"), F.col("ub")).alias("c"),
        )
        .filter(F.col("c") >= 0.45)
        .collect()
    }
    assert brute, "fixture must have >= 1 moderate-cosine pair"
    got = {
        (r.vec_a, r.vec_b)
        for r in embedding_cosine_pairs(
            emb, threshold=0.45, int_planes=True
        ).collect()
    }
    assert got <= brute.union(set())  # precision exact: verified pairs
    assert len(got & brute) / len(brute) >= 0.4


def test_nnd_forget_compact_equals_rebuild(spark, sf_small):
    """Graph compaction after deletion (VERDICT r12 #8). Init-tier
    exactness: compact(graph, forget) == rebuilt-from-scratch on the
    surviving corpus at the same fixed n_bits — a touched node's
    bucket re-join yields ALL its surviving collisions, and an
    untouched node's old top-k members all survive (removing
    non-members never changes a top-k). Composed with
    pipeline_forget_expand this is the similarity-index half of the
    right-to-be-forgotten pipeline: delete the component, compact the
    index, no ghost edges remain."""
    from msk_flink_streaming_cdk_spark.operators.similarity import (
        nndescent_forget_compact,
        nndescent_knn_graph,
    )
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_small, "embeddings").select(
        "vec_id", "embedding"
    )
    forget = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    survivors = emb.filter(F.col("vec_id") % 7 != 0)
    g_full = nndescent_knn_graph(emb, k=5, n_rounds=0, n_bits=3)
    compacted = nndescent_forget_compact(
        g_full, emb, forget, k=5, n_bits=3
    )
    rebuilt = nndescent_knn_graph(survivors, k=5, n_rounds=0, n_bits=3)
    c = sorted(tuple(r) for r in compacted.collect())
    r = sorted(tuple(r) for r in rebuilt.collect())
    assert c == r
    # no ghost edges: nothing references a forgotten id
    fids = {x.vec_id for x in forget.collect()}
    assert not any(a in fids or b in fids for a, b, *_ in c)

    # descended graphs compact the same way; superset-candidate top-k
    # must keep at least the rebuild's recall against brute force
    from msk_flink_streaming_cdk_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    g_desc = nndescent_knn_graph(emb, k=5, n_rounds=1, n_bits=3)
    c_desc = nndescent_forget_compact(g_desc, emb, forget, k=5, n_bits=3)
    queries = survivors.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    brute = {
        (q.query_id, q.vec_id)
        for q in cosine_topk_bruteforce(survivors, queries, k=5).collect()
    }
    rec_rebuild = len({(x.vec_id, x.nbr_id) for x in rebuilt.collect()}
                      & brute)
    rec_desc = len({(x.vec_id, x.nbr_id) for x in c_desc.collect()} & brute)
    assert rec_desc >= rec_rebuild


def test_nnd_merge_cross_session_round_trip(spark, sf_small, tmp_path):
    """The maintained k-NN graph survives storage: write the
    old-corpus graph to parquet, reload it in a FRESH session, merge
    the batch there — the result equals the same merge done on the
    in-memory graph (and therefore the from-scratch rebuild). The
    maintained-index posture of test_streaming's component-label and
    gram-index round-trips, for the similarity family."""
    from msk_flink_streaming_cdk_spark.operators.similarity import (
        nndescent_knn_graph,
        nndescent_merge_batch,
    )
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_small, "embeddings").select(
        "vec_id", "embedding"
    )
    old = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    g_old = nndescent_knn_graph(old, k=5, n_rounds=0, n_bits=3)
    path = str(tmp_path / "knn_graph")
    g_old.write.mode("overwrite").parquet(path)
    direct = sorted(
        tuple(r)
        for r in nndescent_merge_batch(
            g_old, old, batch, k=5, n_bits=3
        ).collect()
    )

    fresh = spark.newSession()
    emb2 = load_table(fresh, sf_small, "embeddings").select(
        "vec_id", "embedding"
    )
    old2 = emb2.filter(F.col("vec_id") % 5 != 0)
    batch2 = emb2.filter(F.col("vec_id") % 5 == 0)
    reloaded = fresh.read.parquet(path)
    resumed = sorted(
        tuple(r)
        for r in nndescent_merge_batch(
            reloaded, old2, batch2, k=5, n_bits=3
        ).collect()
    )
    assert resumed == direct


def test_incremental_knn_merge_query_shape(spark, sf_small):
    row = QUERIES["similarity_incremental_knn_merge"](
        spark, sf_small
    ).collect()
    assert len(row) == 1
    assert row[0].n_diff == 0
    assert row[0].n_edges_merged == row[0].n_edges_rebuilt


def test_graph_search_recall_query_shape(spark, sf_small):
    row = QUERIES["similarity_graph_search_recall"](
        spark, sf_small
    ).collect()
    assert len(row) == 1
    assert row[0].n_exact == 125
    assert row[0].recall >= 0.8


def test_xxh64_sql_matches_spark(spark):
    """The SQL xxhash64 replay (registry._xxh64_sql) must equal
    Spark's xxhash64 bit-for-bit on every input path the oracles
    use: 8-byte longs (positive/negative/zero), 4-byte ints, and
    variable-length UTF-8 strings spanning every tail-geometry case
    (empty, <32, exactly 32, stripes + every 0..31 remainder,
    multi-byte UTF-8)."""
    import string as st

    import duckdb

    from msk_flink_streaming_cdk_spark.registry._xxh64_sql import (
        nest,
        sql_u64,
        xxh64_int_steps,
        xxh64_long_steps,
        xxh64_str_steps,
    )

    con = duckdb.connect()

    longs = [0, 1, -1, 42, -5, 2**63 - 1, -(2**63), 123456789]
    df = spark.createDataFrame([(v,) for v in longs], "v long")
    expect = {r.v: r.h for r in df.select("v", F.xxhash64("v").alias("h")).collect()}
    q = nest(
        "SELECT v FROM t", [("vu", sql_u64("v"))]
        + xxh64_long_steps("vu", "42::UBIGINT", "1")
    )
    con.sql("CREATE TABLE t (v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in longs])
    for v, h in con.sql(f"SELECT v, h1 FROM ({q})").fetchall():
        signed = h - (1 << 64) if h >= (1 << 63) else h
        assert signed == expect[v], f"long {v}"

    ints = [0, 1, -1, 3, 255, 2**31 - 1, -(2**31)]
    dfi = spark.createDataFrame([(v,) for v in ints], "v int")
    expect_i = {
        r.v: r.h for r in dfi.select("v", F.xxhash64("v").alias("h")).collect()
    }
    # 4-byte two's complement reinterpret
    qi = nest(
        "SELECT v FROM ti",
        [("vu", "CAST((((v)::HUGEINT % 4294967296) + 4294967296) "
                "% 4294967296 AS UBIGINT)")]
        + xxh64_int_steps("vu", "42::UBIGINT", "1"),
    )
    con.sql("CREATE TABLE ti (v INTEGER)")
    con.executemany("INSERT INTO ti VALUES (?)", [(v,) for v in ints])
    for v, h in con.sql(f"SELECT v, h1 FROM ({qi})").fetchall():
        signed = h - (1 << 64) if h >= (1 << 63) else h
        assert signed == expect_i[v], f"int {v}"

    strings = [""] + [(st.ascii_lowercase * 8)[:n] for n in range(1, 100)]
    strings += ["héllo wörld", "日本語テキスト", "a b c " * 40]
    dfs = spark.createDataFrame([(s,) for s in strings], "s string")
    expect_s = {
        r.s: r.h for r in dfs.select("s", F.xxhash64("s").alias("h")).collect()
    }
    qs = nest("SELECT s FROM ts", xxh64_str_steps("s", "42::UBIGINT", "1"))
    con.sql("CREATE TABLE ts (s VARCHAR)")
    con.executemany("INSERT INTO ts VALUES (?)", [(s,) for s in strings])
    for s, h in con.sql(f"SELECT s, h1 FROM ({qs})").fetchall():
        signed = h - (1 << 64) if h >= (1 << 63) else h
        assert signed == expect_s[s], f"str {s!r}"


def test_int8_ivfpq_full_probe_equals_flat_pq(spark):
    """IVFADC composition exactness (r14): probing ALL lists makes
    the list gate a no-op — every (query, vec) pair reaches the ADC
    exactly once (each vector lives in one list, the query probes
    them all), with the same integer LUT, selfdot, and ordering as
    flat PQ — so int8_ivfpq(n_probe=n_lists) must equal int8_pq
    row-for-row. Pins the composition against both parents; the
    probed-subset behavior is covered by the recall floor."""
    from msk_flink_streaming_cdk_spark.operators.similarity import (
        int8_ivfpq_ann_topk,
        int8_pq_ann_topk,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
        for i in range(24)
    ]
    rows.append((24, [0.0] * 8))  # zero vector: all-zero codes,
    #                               selfdot 0 -> NULL acos (guarded
    #                               divide in BOTH engines)
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    kw = dict(k=3, m=2, ksub=4, rerank=2)
    flat = sorted(
        tuple(r)
        for r in int8_pq_ann_topk(corpus, queries, **kw).collect()
    )
    full_probe = sorted(
        tuple(r)
        for r in int8_ivfpq_ann_topk(
            corpus, queries, n_lists=4, n_probe=4, **kw
        ).collect()
    )
    assert flat == full_probe and len(flat) == 9
    # determinism: a rerun is bit-identical
    again = sorted(
        tuple(r)
        for r in int8_ivfpq_ann_topk(
            corpus, queries, n_lists=4, n_probe=4, **kw
        ).collect()
    )
    assert again == full_probe


def test_html_extract_roundtrip_and_gate(spark, sf_small):
    """text_html_extract: extraction must recover the planted main
    content EXACTLY for every document (roundtrip_ok all-true — the
    strip/decode pipeline is lossless on the fixture), the keep gate
    must split the corpus (both classes non-empty at the 0.7 ratio),
    and the ratio must be a true fraction of the extracted text."""
    rows = QUERIES["text_html_extract"](spark, sf_small).collect()
    assert rows
    assert all(r.roundtrip_ok for r in rows)
    kept = sum(1 for r in rows if r.keep)
    assert 0 < kept < len(rows), f"gate did not split: {kept}/{len(rows)}"
    for r in rows:
        assert 0.0 < r.content_ratio <= 1.0
        assert r.n_main <= r.n_text <= r.n_html
        # keep is exactly the ratio threshold, pre-rounding
        assert r.keep == (r.n_main / r.n_text >= 0.7)


def _int_pca_scatter(X):
    import numpy as np

    from msk_flink_streaming_cdk_spark.operators.similarity import (
        _int8_codes,
    )

    Q = _int8_codes(X).astype(np.int64)
    n = len(Q)
    s = Q.sum(0)
    return n, n * (Q.T @ Q) - np.outer(s, s)


def test_int_pca_quality_pins(spark, sf_small):
    """embedding_int_pca_project quality, pinned the way a fixed-
    iteration power method can honestly be pinned:

    - On the UNIFORM embeddings table the top eigenvalues are nearly
      degenerate (lam2/lam1 ~ 0.94 measured), so DIRECTION after 24
      rounds is ill-conditioned by construction; what converges is
      captured variance. Pin the Rayleigh quotient v'Mv/(v'v) at
      >= 0.97 of the exact eigenvalue per component.
    - On the planted-CLUSTER fixture (real spectral gap) direction
      does converge: pin cosine vs numpy's exact eigenvectors
      (0.99 / 0.95 measured at 1.0 / 0.984).
    - Components must be near-orthogonal (integer Gram-Schmidt)."""
    import numpy as np

    from msk_flink_streaming_cdk_spark.operators.similarity import (
        clustered_embeddings,
        int_pca_power,
    )
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_small, "embeddings")
    X = np.stack(
        [r.embedding for r in emb.select("embedding").collect()]
    ).astype(np.float64)
    n, M = _int_pca_scatter(X)
    comps = int_pca_power([[int(x) for x in row] for row in M], 2)
    V = np.array(comps, dtype=np.float64)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    Mf = M.astype(np.float64)
    w, E = np.linalg.eigh(Mf)
    assert float(V[0] @ Mf @ V[0]) >= 0.97 * w[-1]
    assert float(V[1] @ Mf @ V[1]) >= 0.97 * w[-2]
    assert abs(float(V[0] @ V[1])) <= 0.02

    Xc = np.stack(
        [
            r.embedding
            for r in clustered_embeddings(emb)
            .select("embedding")
            .collect()
        ]
    ).astype(np.float64)
    nc, Mc = _int_pca_scatter(Xc)
    compsc = int_pca_power([[int(x) for x in row] for row in Mc], 2)
    Vc = np.array(compsc, dtype=np.float64)
    Vc /= np.linalg.norm(Vc, axis=1, keepdims=True)
    wc, Ec = np.linalg.eigh(Mc.astype(np.float64))
    assert abs(float(Vc[0] @ Ec[:, -1])) >= 0.99
    assert abs(float(Vc[1] @ Ec[:, -2])) >= 0.95

    # the registered query: one row per vector, normalized output
    # consistent with the raw integer dot
    rows = QUERIES["embedding_int_pca_project"](spark, sf_small).collect()
    assert len(rows) == n
    r0 = rows[0]
    assert r0.ipc1 == round(
        r0.ipc_raw1
        / (127.0 * np.linalg.norm(np.array(comps[0], dtype=float))),
        9,
    )


def test_scored_candidate_sharing_bit_identical(spark, sf_small):
    """Optimization r16: the audit queries that build two graphs over
    overlapping corpora share ONE persisted scored-collision frame
    (``lsh_scored_candidates``) and feed each leg an id-filtered
    slice. This must be BYTE-EQUAL to each leg scoring its own
    collisions: buckets are per-row and cosines per-pair functions,
    so filtering the shared frame commutes with re-deriving it from
    the filtered corpus."""
    from msk_flink_streaming_cdk_spark.operators.similarity import (
        lsh_hashed_frame,
        lsh_scored_candidates,
        nndescent_forget_compact,
        nndescent_knn_graph,
        nndescent_merge_batch,
        unit_vectors,
    )
    from msk_flink_streaming_cdk_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_small, "embeddings").select(
        "vec_id", "embedding"
    )
    unit = unit_vectors(emb)
    scored = lsh_scored_candidates(lsh_hashed_frame(emb, 3), unit)

    # graph build: scored_df slice == per-leg scoring
    old = emb.filter(F.col("vec_id") % 5 != 0)
    g_plain = nndescent_knn_graph(old, k=5, n_rounds=0, n_bits=3)
    g_shared = nndescent_knn_graph(
        old, k=5, n_rounds=0, n_bits=3, unit_df=unit,
        scored_df=scored.filter(
            (F.col("src") % 5 != 0) & (F.col("dst") % 5 != 0)
        ),
    )
    assert sorted(tuple(r) for r in g_plain.collect()) == sorted(
        tuple(r) for r in g_shared.collect()
    )

    # merge: batch-involving slice == internally hashed+scored cand
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    m_plain = nndescent_merge_batch(g_plain, old, batch, k=5, n_bits=3)
    m_shared = nndescent_merge_batch(
        g_plain, old, batch, k=5, n_bits=3, unit_df=unit,
        scored_cand_df=scored.filter(
            (F.col("src") % 5 == 0) | (F.col("dst") % 5 == 0)
        ),
    )
    assert sorted(tuple(r) for r in m_plain.collect()) == sorted(
        tuple(r) for r in m_shared.collect()
    )

    # forget-compact: survivor slice == internally hashed+scored cand
    forget = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    g_full = nndescent_knn_graph(emb, k=5, n_rounds=0, n_bits=3)
    c_plain = nndescent_forget_compact(g_full, emb, forget, k=5, n_bits=3)
    c_shared = nndescent_forget_compact(
        g_full, emb, forget, k=5, n_bits=3, unit_df=unit,
        scored_df=scored.filter(
            (F.col("src") % 7 != 0) & (F.col("dst") % 7 != 0)
        ),
    )
    assert sorted(tuple(r) for r in c_plain.collect()) == sorted(
        tuple(r) for r in c_shared.collect()
    )

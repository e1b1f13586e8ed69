"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk_bruteforce``: exact top-k — broadcast the (small)
  query set against the corpus; cosine is JVM-side higher-order
  functions; per-query top-k via row_number (WindowGroupLimit keeps
  only k rows per mapper). The baseline and the oracle-checked path.
- ``lsh_ann_topk``: the scale path — random-hyperplane LSH buckets
  (seeded, deterministic), multi-probe on Hamming<=1 neighbors, exact
  cosine re-rank inside candidate buckets. Corpus side is hashed once
  (one projection), probed buckets form an equi-join; no all-pairs
  product at any size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType

from ..functions.vectors import cosine_similarity_col, dot_product_col
from .util import cut_lineage, materialize_once


def unit_vectors(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, u) unit-normalized double vectors — the shared first step
    of every cosine-family operator (pair verify, NN-Descent scoring,
    SemDeDup, recall audits). The L2 norm is materialized as its own
    column FIRST: referencing the O(dim) aggregate inside the
    transform lambda would re-evaluate it per array element (O(dim^2)
    per row). Callers that reuse the frame across operators should
    persist it once (see ``registry.llm_q.shared_unit_embeddings`` —
    in production this is a maintained table next to the embeddings
    themselves, not a per-query rebuild)."""
    norm = F.sqrt(
        F.aggregate(
            vec_col,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return df.withColumn("__n", norm).select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            vec_col, lambda x: x.cast("double") / F.col("__n")
        ).alias("u"),
    )


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k by cosine. The score is rounded to 9dp BEFORE
    the rank (shared by every ANN variant and the brute-force
    baseline, so their scores stay comparable): a sub-ulp
    Spark-vs-DuckDB libm difference near a tie between two candidates
    must not flip top-k membership — the MMR convention."""
    scored = scored.withColumn("cosine", F.round("cosine", 9))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k of corpus rows per query row.

    The query side is broadcast (top-k search has few queries); the
    corpus is scanned once, partition-parallel. 100 TB shape: cost is
    one corpus scan per query batch — batch queries, don't loop.
    Scores are 9dp-rounded before ranking (see ``_topk_per_query``).
    """
    scored = corpus.join(F.broadcast(queries)).filter(
        F.col(id_col) != F.col(query_id_col)
    ).select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("vec_id"),
        cosine_similarity_col(
            F.col(vec_col), F.col(query_vec_col)
        ).alias("cosine"),
    )
    return _topk_per_query(scored, k)


def hyperplanes(dim: int, n_bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim)).tolist()


def _bucket_udf(all_planes: list[list[list[float]]]):
    """Vectorized multi-table sign-LSH bucketing: one Arrow batch
    matmul computes every table's bucket for every row.

    (The all-Catalyst alternative — one zip_with/aggregate per plane —
    is 16 tables x 6 planes = 96 array-literal expressions per row and
    blows up codegen; measured 46s vs ~2s on the sf0.01 fixture. This
    is the documented 'Python only when built-ins genuinely can't
    express it efficiently' case.)"""
    H = np.asarray(all_planes)  # (tables, bits, dim)
    tables, bits, dim = H.shape
    flat = H.reshape(tables * bits, dim).T  # (dim, tables*bits)
    weights = (1 << np.arange(bits)).astype(np.int64)

    @F.pandas_udf(ArrayType(IntegerType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        signs = (X @ flat) >= 0  # (n, tables*bits)
        b = signs.reshape(len(X), tables, bits) @ weights  # (n, tables)
        return pd.Series(list(b.astype(np.int32)))

    return buckets


def embedding_cosine_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_bits: int = 6,
    n_tables: int = 16,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    unit_df: DataFrame | None = None,
    int_planes: bool = False,
    span: int = 7,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cosine) for every
    pair with cosine >= threshold — the embedding member of the dedup
    family (exact-text / Jaccard / MinHash / SimHash / cosine).

    Candidates come from multi-table sign-LSH self-collision (same
    (table, bucket)), verified with exact cosine — sketch-then-verify,
    no all-pairs product. Recall for high-cosine pairs is governed by
    tables x bits: P(bucket collision per table) = (1-θ/π)^bits for
    angle θ; near-dup pairs (θ→0) collide in virtually every table.

    ``unit_df``: optional caller-persisted (vec_id, u) unit-vector
    frame covering the corpus (``unit_vectors`` layout) — the verify
    stage then skips its own normalization pass. The embedding family
    shares one such frame per session (VERDICT r11 #3); it MUST be
    derived from the same corpus or a superset (ids are equi-joined,
    extras are ignored).

    ``int_planes=True`` swaps the numpy-RNG gaussian hyperplanes for
    the md5-derived INTEGER planes of the int8 family (round-13):
    the candidate set becomes engine-reproducible and the whole pair
    retrieval SQL-replayable — the ``dedup_int8_embedding_pairs``
    hash-checked twin. Sign-LSH quality is direction-uniform either
    way; only the provenance of the planes changes.
    """
    bucket_udf = (
        _int8_bucket_udf(int_lsh_planes(dim, n_bits, n_tables, span))
        if int_planes
        else _bucket_udf(
            [
                hyperplanes(dim, n_bits, seed + 1000 * t)
                for t in range(n_tables)
            ]
        )
    )
    vecs = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    # Band join carries ids only (same lesson as MinHash: keep the
    # bucket shuffle narrow); embeddings re-join per UNIQUE pair.
    # Both self-join sides read this frame: persist so the Arrow
    # bucketing UDF runs once over the corpus, not twice.
    hashed = vecs.select(
        "vec_id",
        F.posexplode(bucket_udf(F.col("embedding"))).alias(
            "table_id", "bucket"
        ),
    ).transform(materialize_once)
    a, b = hashed.alias("a"), hashed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    # Verify with a dot product over pre-normalized vectors: n
    # normalizations once, instead of dot + 2 norms per candidate pair
    # (see unit_vectors; a caller-persisted shared frame skips even
    # the single pass).
    unit = unit_df if unit_df is not None else unit_vectors(vecs)
    paired = cand.join(
        unit.select(F.col("vec_id").alias("vec_a"), F.col("u").alias("u_a")),
        "vec_a",
    ).join(
        unit.select(F.col("vec_id").alias("vec_b"), F.col("u").alias("u_b")),
        "vec_b",
    )
    return paired.select(
        "vec_a",
        "vec_b",
        dot_product_col(F.col("u_a"), F.col("u_b")).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def _centroid_probe_udf(centroid_ids, centroid_mat, nprobe: int):
    """pandas UDF: nearest-``nprobe`` centroid ids per vector, one
    numpy matmul per Arrow batch against the (small, driver-held)
    codebook — the standard IVF coarse-quantization step."""
    C = centroid_mat / np.linalg.norm(centroid_mat, axis=1, keepdims=True)
    ids = np.asarray(centroid_ids, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def probe(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        sims = X @ C.T  # (n, n_centroids)
        top = np.argsort(-sims, axis=1)[:, :nprobe]
        return pd.Series(list(ids[top]))

    return probe


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 128,
    nprobe: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index — the
    cell-probe alternative to sign-LSH (``lsh_ann_topk``).

    Codebook: a deterministic subset of corpus vectors stands in for
    trained k-means centroids — same partitioning mechanics, no
    iterative training. The subset stride is DERIVED from a corpus
    count so the codebook holds ~``n_lists`` vectors at ANY corpus
    size (IVF's contract: n_lists ≪ n) — the driver-side collect is
    O(n_lists), the same bounded pattern as broadcasting a dim table,
    never O(corpus). Then:

    - corpus rows are assigned to their nearest centroid with one
      Arrow-batch numpy matmul per partition (no n×C row blow-up);
    - queries probe their ``nprobe`` nearest cells;
    - candidates = equi-join on centroid_id (cell population bounds
      fan-out), re-ranked by exact cosine.

    At 100 TB raise ``n_lists`` to 4-16k: the count is parquet
    metadata (no scan), assignment remains a single corpus scan, and
    the cell join remains an equi-join — no all-pairs product and no
    O(n) driver state at any corpus size. Recall scales with the
    probed fraction ``nprobe / n_lists`` (default 25%); on clustered
    real-world embeddings fewer probes suffice — the synthetic
    near-uniform fixture is IVF's worst case.
    """
    stride = max(1, corpus.count() // n_lists)
    cent = (
        corpus.filter((F.col(id_col) % stride) == 0)
        .select(id_col, vec_col)
        .collect()
    )
    centroid_ids = [r[id_col] for r in cent]
    centroid_mat = np.array([r[vec_col] for r in cent], dtype=np.float64)
    assign1 = _centroid_probe_udf(centroid_ids, centroid_mat, 1)
    probe_n = _centroid_probe_udf(centroid_ids, centroid_mat, nprobe)

    assigned = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        assign1(F.col(vec_col))[0].alias("centroid_id"),
    )
    probes = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("query_vec"),
        F.explode(probe_n(F.col(query_vec_col))).alias("centroid_id"),
    )
    cand = assigned.join(F.broadcast(probes), "centroid_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        cosine_similarity_col(F.col("embedding"), F.col("query_vec")).alias(
            "cosine"
        ),
    ).dropDuplicates(["query_id", "vec_id"])
    return _topk_per_query(scored, k)


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 6,
    n_tables: int = 16,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate cosine top-k with multi-table sign-LSH.

    ``n_tables`` independent hash tables (seeded hyperplane sets);
    candidates = corpus rows sharing a (table, bucket) — plus Hamming-1
    multi-probe buckets — with the query in ANY table, re-ranked by
    exact cosine. Recall/cost dial: tables x probes x bucket size.
    Corpus is hashed in one projection (n_tables ints per row); the
    candidate step is an equi-join on (table_id, bucket) — no
    all-pairs product at any corpus size.
    """
    all_planes = [
        hyperplanes(dim, n_bits, seed + 1000 * t) for t in range(n_tables)
    ]
    # NOTE: no parallelize_narrow here — the Arrow bucket UDF is fast
    # enough per-row that spinning up one Python worker per partition
    # costs more than it saves (measured 3.5s → 8.5s at sf0.1).
    bucket_udf = _bucket_udf(all_planes)
    hashed = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.posexplode(bucket_udf(F.col(vec_col))).alias("table_id", "bucket"),
    )
    qb = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("query_vec"),
        F.posexplode(bucket_udf(F.col(query_vec_col))).alias(
            "table_id", "qbucket"
        ),
    )
    probes = qb.select(
        "query_id",
        "query_vec",
        "table_id",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[
                    F.col("qbucket").bitwiseXOR(F.lit(1 << j))
                    for j in range(n_bits)
                ],
            )
        ).alias("bucket"),
    )
    cand = hashed.join(
        F.broadcast(probes), ["table_id", "bucket"]
    ).filter(F.col("vec_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        "vec_id",
        cosine_similarity_col(
            F.col("embedding"), F.col("query_vec")
        ).alias("cosine"),
    ).dropDuplicates(["query_id", "vec_id"])
    return _topk_per_query(scored, k)


def int_lsh_planes(
    dim: int, n_bits: int, n_tables: int, span: int = 7
) -> list[list[list[int]]]:
    """Deterministic INTEGER sign-LSH hyperplanes: coefficient
    (t, b, d) = md5("t:b:d")-derived int in [-span, span]. Unlike the
    gaussian ``hyperplanes`` (numpy RNG — irreproducible outside this
    process's numpy), these are pure arithmetic on a public digest:
    any engine (or a SQL oracle) regenerates the identical planes.
    Small-integer coefficients lose nothing for sign-LSH — only the
    DIRECTION of the plane matters, and md5-uniform ints are as
    direction-uniform as floats at these dims."""
    import hashlib

    return [
        [
            [
                int.from_bytes(
                    hashlib.md5(f"{t}:{b}:{d}".encode()).digest()[:8],
                    "big",
                )
                % (2 * span + 1)
                - span
                for d in range(dim)
            ]
            for b in range(n_bits)
        ]
        for t in range(n_tables)
    ]


def clustered_embeddings(
    emb: DataFrame,
    n_clusters: int = 8,
    center_span: int = 40,
    noise_span: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """PLANTED-CLUSTER embedding fixture (round-15, VERDICT r14 #2):
    derives a second synthetic embedding table with real cluster
    structure from the base table's ids — every value is md5-derived
    integer arithmetic, so a SQL oracle regenerates the identical
    vectors and the int8 ANN family's recall can be measured (and
    hash-checked) on data where retrieval quality is separable from
    probe fraction. On the driver's UNIFORM vectors, IVF-style
    recall mathematically equals the probed fraction of lists
    (every list is an equally good candidate source), so the r12-r14
    recall floors proved reproducibility, not retrieval; this fixture
    is the measurement fix.

    Construction (FAISS-style planted clusters, cf. the IVF
    evaluation setup in PAPERS.md): row i gets
    ``cluster_id = md5('cl:i') % n_clusters``; coordinate d is
    ``center(cluster_id, d) + noise(i, d)`` with
    ``center(c, d) = md5('cc:c:d') % (2*cs+1) - cs`` and
    ``noise(i, d) = md5('nz:i:d') % (2*ns+1) - ns``. With cs=40,
    ns=10, dim=64 the expected within-cluster cosine is ~0.94
    (||center||^2 ~ 64*cs^2/3 vs ||noise||^2 ~ 64*ns^2/3) while
    cross-cluster cosine is ~0 — exact top-k is same-cluster with
    measured purity 1.0, so an ANN variant that retrieves structure
    scores near 1.0 and random probing scores the probe fraction.
    All coordinates are integers |x| <= cs+ns: every dot product is a
    sum of integer-valued doubles (exactly representable, order-
    immune), keeping the whole fixture + retrieval SQL-replayable
    like the int8 family. Entirely JVM-side expression work — no UDF,
    no driver state; at 100 TB this is a one-scan derived column.

    Returns (vec_id, embedding array<double>, cluster_id)."""
    cs, ns = center_span, noise_span
    cid = (
        f"CAST(conv(substring(md5(concat('cl:', CAST({id_col} AS STRING"
        f"))), 1, 6), 16, 10) AS BIGINT) % {n_clusters}"
    )
    vec = f"""
      transform(sequence(0, {dim - 1}), d ->
        CAST(
          CAST(conv(substring(md5(concat('cc:',
                 CAST(cluster_id AS STRING), ':', CAST(d AS STRING))),
               1, 6), 16, 10) AS BIGINT) % {2 * cs + 1} - {cs}
          + CAST(conv(substring(md5(concat('nz:',
                 CAST({id_col} AS STRING), ':', CAST(d AS STRING))),
               1, 6), 16, 10) AS BIGINT) % {2 * ns + 1} - {ns}
        AS DOUBLE))"""
    return (
        emb.select(F.col(id_col).alias("vec_id"))
        .withColumn("cluster_id", F.expr(cid))
        .select(
            "vec_id", F.expr(vec).alias("embedding"), "cluster_id"
        )
    )


def _int8_bucket_udf(all_planes: list[list[list[int]]]):
    """Vectorized int8-quantize + integer sign-LSH bucketing.

    EVERY arithmetic step lands on exactly representable doubles:
    the int8 code is floor(x/scale + 0.5) clamped to [-127, 127]
    (IEEE ops, bit-equal to the SQL replay), and the plane dot is a
    sum of 64 products each <= 127*span — integers in float64, so
    numpy's matmul reassociation CANNOT change the result and the
    oracle's sequential list_dot_product lands on the same value.
    That exactness is what makes this the one ANN variant whose
    bucketing a DuckDB oracle can replay bit-for-bit (the gaussian
    variant's float dots are reassociation-sensitive at the sign
    boundary)."""
    H = np.asarray(all_planes, dtype=np.float64)  # (tables, bits, dim)
    tables, bits, dim = H.shape
    flat = H.reshape(tables * bits, dim).T  # (dim, tables*bits)
    weights = (1 << np.arange(bits)).astype(np.int64)

    @F.pandas_udf(ArrayType(IntegerType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        if X.shape[1] != dim:
            # Fail with the cause, not an opaque matmul shape error
            # three frames deep (round-12 advice): the planes were
            # generated for `dim`, so a width mismatch means the
            # caller passed the wrong dim= for this embedding column.
            raise ValueError(
                f"int8 LSH planes were generated for dim={dim} but the "
                f"vector column has width {X.shape[1]}; pass dim="
                f"{X.shape[1]} so the hyperplane family matches the "
                f"embeddings."
            )
        signs = (_int8_codes(X) @ flat) >= 0  # exact: integer operands
        b = signs.reshape(len(X), tables, bits) @ weights
        return pd.Series(list(b.astype(np.int32)))

    return buckets


def _int8_codes(X: np.ndarray) -> np.ndarray:
    """Exact per-vector int8 quantization shared by every integer ANN
    variant: scale = max|x|/127, code = clip(floor(x/scale + 0.5),
    -127, 127), zero vectors -> all-zero codes. Every step is a plain
    IEEE double op, so the DuckDB oracle replays it bit-for-bit (the
    property the reproducible ANN family is built on)."""
    scale = np.abs(X).max(axis=1) / 127.0
    safe = np.where(scale == 0.0, 1.0, scale)
    Q = np.clip(np.floor(X / safe[:, None] + 0.5), -127.0, 127.0)
    Q[scale == 0.0] = 0.0
    return Q


def int8_lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 6,
    n_tables: int = 8,
    span: int = 7,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate cosine top-k with DETERMINISTIC integer sign-LSH
    over int8-quantized vectors — the reproducible-ANN variant: the
    same corpus yields the same buckets on any engine, any numpy, any
    rerun (md5-derived integer planes + integer dot products), so the
    index is portable across systems and the whole retrieval is
    SQL-oracle-checkable end-to-end. Same scale shape as
    ``lsh_ann_topk``: corpus hashed in one projection, Hamming-1
    multi-probe, (table, bucket) equi-join, exact float cosine
    re-rank — no all-pairs product at any corpus size

    MEASURED growth (r14, ``tools/heavy_growth_r14.log``): 3x corpus,
    fixed 10-query batch -> spark x0.67 / oracle x2.21 (~linear:
    candidates are |Q| x occupancy x probes, linear in n at fixed
    bits; the bits dial holds occupancy at real scale).
    """
    bucket_udf = _int8_bucket_udf(
        int_lsh_planes(dim, n_bits, n_tables, span)
    )
    hashed = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.posexplode(bucket_udf(F.col(vec_col))).alias("table_id", "bucket"),
    )
    qb = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("query_vec"),
        F.posexplode(bucket_udf(F.col(query_vec_col))).alias(
            "table_id", "qbucket"
        ),
    )
    probes = qb.select(
        "query_id",
        "query_vec",
        "table_id",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[
                    F.col("qbucket").bitwiseXOR(F.lit(1 << j))
                    for j in range(n_bits)
                ],
            )
        ).alias("bucket"),
    )
    cand = hashed.join(
        F.broadcast(probes), ["table_id", "bucket"]
    ).filter(F.col("vec_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        "vec_id",
        cosine_similarity_col(
            F.col("embedding"), F.col("query_vec")
        ).alias("cosine"),
    ).dropDuplicates(["query_id", "vec_id"])
    return _topk_per_query(scored, k)


def _int8_assign_udf(centroid_codes: np.ndarray, n_top: int):
    """Arrow-batched list assignment for the int8 IVF: integer dot of
    each vector's int8 code against every int8 centroid code (exact —
    products <= 127*127, sums of 64 of them are integer-valued
    doubles), ranked dot DESC with ties to the LOWER centroid rank
    (np.argsort stable on the negated exact dots). Returns the top
    ``n_top`` list ids per vector."""
    CT = centroid_codes.T  # (dim, n_lists)

    @F.pandas_udf(ArrayType(IntegerType()))
    def assign(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        if X.shape[1] != CT.shape[0]:
            raise ValueError(
                f"int8 IVF centroids have dim={CT.shape[0]} but the "
                f"vector column has width {X.shape[1]}"
            )
        D = _int8_codes(X) @ CT  # exact integer-valued doubles
        order = np.argsort(-D, axis=1, kind="stable")[:, :n_top]
        return pd.Series(list(order.astype(np.int32)))

    return assign


def int8_ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """REPRODUCIBLE IVF ANN — the second member of the int8 integer
    family (round-12 verdict #6, following the ``int8_lsh_ann_topk``
    precedent): every stage is exact integer/IEEE arithmetic, so a
    DuckDB oracle replays the whole retrieval bit-for-bit, unlike the
    float ``ivf_ann_topk`` whose numpy-matmul assignment is
    reassociation-sensitive and therefore only recall-pinned.

    Stages, each SQL-replayable:

    1. CENTROIDS: the ``n_lists`` corpus vectors with the smallest
       ``md5('ivf:' || vec_id)`` digest (tie: vec_id) — a seeded
       deterministic sample both engines compute natively; their int8
       codes are the list centroids (rank order = digest order). A
       random-vector codebook loses some clustering quality vs
       k-means centroids, but it is scale-free, one TakeOrdered job,
       and — the point of this variant — byte-reproducible anywhere.
    2. ASSIGN: each corpus vector goes to the list whose centroid
       maximizes the int8 integer dot (exact doubles; ties to the
       lower list rank). One Arrow-batched projection over the corpus.
    3. PROBE: each query ranks the same dots and probes its top
       ``n_probe`` lists.
    4. RE-RANK: candidates = corpus rows in probed lists (list_id
       equi-join, no all-pairs), exact float cosine under the shared
       (9dp DESC, vec_id) order.

    100 TB: centroid pick is one TakeOrderedAndProject over (digest,
    id); assignment is one scan; the join fans out |Q| * n_probe
    lists * (n/n_lists) rows — dial ``n_lists`` up with corpus size
    exactly like the float IVF's docstring prescribes.

    MEASURED growth (r14, ``tools/heavy_growth_r14.log``): 3x corpus,
    fixed 10-query batch -> spark x0.89 / oracle x2.62 (~linear:
    candidates are |Q| x n_probe x n/n_lists).
    """
    cent_rows = (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy(
            F.md5(F.concat(F.lit("ivf:"), F.col("cid").cast("string"))),
            "cid",
        )
        .limit(n_lists)
        .collect()
    )  # bounded: n_lists rows via TakeOrderedAndProject
    C = _int8_codes(np.asarray([r.cv for r in cent_rows], dtype=np.float64))
    assigned = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.element_at(_int8_assign_udf(C, 1)(F.col(vec_col)), 1).alias(
            "list_id"
        ),
    )
    probes = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("query_vec"),
        F.explode(_int8_assign_udf(C, n_probe)(F.col(query_vec_col))).alias(
            "list_id"
        ),
    )
    cand = assigned.join(F.broadcast(probes), "list_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        cosine_similarity_col(
            F.col("embedding"), F.col("query_vec")
        ).alias("cosine"),
    )
    return _topk_per_query(scored, k)


def pca_power_project(
    corpus: DataFrame,
    n_components: int = 2,
    n_iters: int = 400,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project embeddings onto their top principal components.

    Distributed shape (the MLlib pattern, re-built on mapInPandas):

    1. One corpus scan computes PER-PARTITION sufficient statistics
       (count, sum vector, Gram matrix X'X) as a single Arrow batch
       numpy pass — the only data that ever leaves an executor is one
       (1 + d + d*d)-double row per partition, so the driver collect
       is O(partitions * d^2), independent of row count.
    2. The driver assembles the d x d covariance (tiny: d=64 -> 32 KB)
       and runs deterministic power iteration with deflation for the
       top ``n_components`` eigenvectors — no RNG: init is the
       normalized all-ones vector, sign is fixed so each component's
       largest-magnitude coordinate is positive.
    3. Components broadcast back as array literals; the projection is
       a JVM-side HOF dot product per row — a second scan, no shuffle.

    At 100 TB this is two scans and an O(partitions) collect — the
    covariance path never materializes an n x n or n x d^2 anything.
    """
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    probe_row = corpus.select(F.size(vec_col).alias("d")).first()
    if probe_row is None:  # empty corpus: empty projection, stable schema
        return corpus.select(
            F.col(id_col).alias("vec_id"),
            *[
                F.lit(None).cast("double").alias(f"pc{i + 1}")
                for i in range(n_components)
            ],
        )
    d_probe = probe_row["d"]
    stats_schema = StructType(
        [
            StructField("cnt", LongType()),
            StructField("s", ArrayType(DoubleType())),
            StructField("g", ArrayType(DoubleType())),
        ]
    )

    def partial_stats(batches):
        cnt, s, g = 0, None, None
        for pdf in batches:
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cnt += len(X)
            s = X.sum(0) if s is None else s + X.sum(0)
            g = X.T @ X if g is None else g + X.T @ X
        if cnt:
            yield pd.DataFrame(
                {"cnt": [cnt], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    parts = corpus.select(vec_col).mapInPandas(partial_stats, stats_schema)
    rows = parts.collect()
    n = sum(r["cnt"] for r in rows)
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    G = np.sum(
        [np.asarray(r["g"]).reshape(d_probe, d_probe) for r in rows], axis=0
    )
    mu = s / n
    cov = (G - n * np.outer(mu, mu)) / max(n - 1, 1)

    comps = []
    C = cov.copy()
    for _ in range(n_components):
        v = np.ones(d_probe) / np.sqrt(d_probe)
        for _ in range(n_iters):
            v = C @ v
            v /= max(np.linalg.norm(v), 1e-12)
        lam = float(v @ C @ v)
        if v[np.argmax(np.abs(v))] < 0:  # deterministic sign
            v = -v
        comps.append((v, lam))
        C = C - lam * np.outer(v, v)  # deflation

    centered = F.zip_with(
        vec_col,
        F.array(*[F.lit(float(x)) for x in mu]),
        lambda x, m: x.cast("double") - m,
    )
    out = corpus.withColumn("_c", centered)
    projections = [
        dot_product_col(
            F.col("_c"), F.array(*[F.lit(float(x)) for x in v])
        ).alias(f"pc{i + 1}")
        for i, (v, _) in enumerate(comps)
    ]
    return out.select(F.col(id_col).alias("vec_id"), *projections)


def kmeans_lloyd_int(emb: DataFrame, n_iters: int = 2) -> DataFrame:
    """Iterative Lloyd k-means over the embedding column, EXACT and
    engine-reproducible: vectors quantize to scale-8 integers via
    IEEE ops (floor(v*1e8 + 0.5) — bit-identical on any engine),
    centroids are floor(mean)+0.5 integers, distances are integer
    sums, argmin ties break on cluster id. Seeded from the label
    groups, then ``n_iters`` full assign->update rounds.

    The driver loop composes one declarative plan per iteration —
    centroids are k x d rows, cached and broadcast each round, so
    every iteration is scan + broadcast-join + two hash aggs; at
    100 TB add a localCheckpoint between rounds to cut lineage
    growth. The deterministic integer arithmetic is what lets a SQL
    oracle replay every iteration bit-for-bit."""
    from pyspark.sql import Window

    def iv8(x):
        return F.floor(x.cast("double") * F.lit(1e8) + F.lit(0.5))

    exi = emb.select(
        "vec_id",
        F.col("label").alias("cluster"),
        F.posexplode("embedding").alias("dim0", "v"),
    ).select(
        "vec_id",
        "cluster",
        (F.col("dim0") + 1).alias("dim"),
        iv8(F.col("v")).alias("iv"),
    )
    # Loop-invariant frames, persisted once (optimization round 15,
    # guide §2.4/§5): every iteration's centroid update re-reads
    # ``points`` and every re-assignment re-reads ``varr``; unpersisted
    # they re-ran the posexplode / quantize transform from the source
    # per round (plan: 5 scans of embeddings -> 2).
    points = materialize_once(exi.select("vec_id", "dim", "iv"))
    # the quantized vector as an array, straight from the source row —
    # no explode/collect round-trip (posexplode only feeds centroids)
    varr = materialize_once(
        emb.select("vec_id", F.transform("embedding", iv8).alias("vec"))
    )

    assign = exi.select("vec_id", "cluster").distinct()
    for _ in range(n_iters):
        cent = (
            points.join(assign, "vec_id")
            .groupBy("cluster", "dim")
            .agg(
                F.floor(
                    F.sum("iv").cast("double") / F.count("*") + F.lit(0.5)
                ).alias("ic")
            )
        )
        carr = cent.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "ic"))),
                lambda s: s["ic"],
            ).alias("centroid")
        )
        scored = varr.crossJoin(F.broadcast(carr)).select(
            "vec_id",
            "cluster",
            F.aggregate(
                F.zip_with(
                    "vec", "centroid", lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0).cast("long"),
                lambda acc, d: acc + d,
            ).alias("dist2i"),
        )
        w = Window.partitionBy("vec_id").orderBy("dist2i", "cluster")
        assign = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cluster", "dist2i")
        )
    return assign.select(
        "vec_id",
        F.col("cluster").alias("assigned_label"),
        F.round(F.col("dist2i").cast("double") / F.lit(1e16), 6).alias(
            "dist2"
        ),
    )


def _pq_codebooks(
    sample: np.ndarray, m: int, ksub: int, n_iters: int
) -> np.ndarray:
    """Deterministic per-subspace Lloyd k-means codebooks (m, ksub,
    dim/m) over an L2-normalized training sample. Init is evenly
    strided sample rows (no RNG), so encode/score replays are
    bit-stable run to run."""
    n, dim = sample.shape
    sub = dim // m
    books = np.empty((m, ksub, sub))
    for j in range(m):
        X = sample[:, j * sub : (j + 1) * sub]
        idx = (np.arange(ksub) * max(1, n // ksub)) % n
        C = X[idx].astype(np.float64).copy()
        for _ in range(n_iters):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            a = d2.argmin(1)
            for c in range(ksub):
                mask = a == c
                if mask.any():
                    C[c] = X[mask].mean(0)
        books[j] = C
    return books


def _pq_encode_udf(books: np.ndarray):
    """Arrow-batch PQ encoder: normalize the vector, then per subspace
    emit the nearest codeword index — one numpy pass per batch, m
    small ints per row out (the 32x-compressed representation that
    makes 100 TB of embeddings fit an ANN index)."""
    m, ksub, sub = books.shape

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            Xj = X[:, j * sub : (j + 1) * sub]
            d2 = ((Xj[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
            codes[:, j] = d2.argmin(1)
        return pd.Series(list(codes))

    return encode


def pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 16,
    ksub: int = 16,
    n_iters: int = 4,
    rerank: int = 16,
    train_rows: int = 16384,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate cosine top-k via product quantization (ADC) — the
    memory-bound third leg next to sign-LSH and IVF.

    - Train: per-subspace k-means codebooks on a driver-held sample of
      AT MOST ``train_rows`` corpus vectors, chosen deterministically
      by xxhash64 order (a content-seeded uniform sample). The collect
      is O(train_rows) — fixed-size regardless of corpus scale — and
      the plan is TakeOrderedAndProject (per-partition top-k merge,
      no full sort shuffle). The codebook itself is m*ksub*(dim/m)
      floats, kilobytes, broadcast implicitly inside the encode UDF.
    - Encode: one corpus scan -> m small ints per row (asymmetric
      distance computation keeps queries exact, corpus quantized).
    - Score: per query a (m*ksub) dot-product lookup table — computed
      DISTRIBUTED by an Arrow-batched pandas UDF over the queries
      frame (the kilobyte codebook rides the UDF closure; round-9
      verdict retired the per-query-row driver loop, so LUT cost now
      scales with executors, not driver iterations) — then evaluated
      as a Catalyst ``aggregate`` over the code array — JVM-side, no
      Python in the scoring scan.
    - Re-rank: top k*rerank ADC candidates per query re-scored with
      exact cosine (embeddings re-join by id), then exact top-k.
    """
    sample_rows = (
        corpus.select(
            F.col(vec_col).alias("_v"),
            F.xxhash64(F.col(id_col)).alias("_h"),
        )
        .orderBy("_h", "_v")
        .limit(train_rows)
        .select("_v")
        .collect()
    )
    sample = np.stack([np.asarray(r[0]) for r in sample_rows]).astype(
        np.float64
    )
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    books = _pq_codebooks(sample, m, ksub, n_iters)
    encode = _pq_encode_udf(books)

    codes = corpus.select(
        F.col(id_col).alias("vec_id"), encode(F.col(vec_col)).alias("codes")
    )
    @F.pandas_udf(ArrayType(DoubleType()))
    def lut_udf(qvecs: pd.Series) -> pd.Series:
        Q = np.stack(qvecs.to_numpy()).astype(np.float64)
        Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
        # (n, m, sub) x (m, ksub, sub) -> (n, m, ksub) partial dots
        L = np.einsum("nmd,mkd->nmk", Q.reshape(len(Q), m, -1), books)
        return pd.Series([row.ravel().tolist() for row in L])

    lut_df = queries.select(
        F.col(query_id_col).alias("query_id"),
        lut_udf(F.col(query_vec_col)).alias("lut"),
    )

    adc = (
        codes.join(F.broadcast(lut_df))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.expr(
                f"aggregate(sequence(0, {m - 1}), CAST(0.0 AS DOUBLE), "
                f"(acc, j) -> acc + element_at(lut, "
                f"j * {ksub} + element_at(codes, j + 1) + 1))"
            ).alias("adc"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("vec_id")
    )
    cand = (
        adc.withColumn("arn", F.row_number().over(wa))
        .filter(F.col("arn") <= k * rerank)
        .select("query_id", "vec_id")
    )
    paired = cand.join(
        corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ),
        "vec_id",
    ).join(
        F.broadcast(
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(query_vec_col).alias("query_vec"),
            )
        ),
        "query_id",
    )
    scored = paired.select(
        "query_id",
        "vec_id",
        cosine_similarity_col(F.col("embedding"), F.col("query_vec")).alias(
            "cosine"
        ),
    )
    return _topk_per_query(scored, k)


def cosine_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    max_query_batch: int = 4096,
) -> DataFrame:
    """Exact cosine top-k via blocked BLAS matmul — the dense scale
    path for the brute-force baseline: one Arrow-batched matmul scores
    a whole corpus block against every query at once, and each block
    emits only its LOCAL top-k per query (same (9dp-cosine DESC,
    vec_id ASC) total order as ``_topk_per_query``), so the shuffle
    carries k rows per query per block instead of |corpus| x |queries|
    scored rows. The global re-rank over block winners returns exactly
    the brute-force result (local top-k under a total order is a
    superset of the global top-k's block members; pinned row-identical
    to ``cosine_topk_bruteforce`` in pytest and to the same DuckDB
    oracle).

    The query batch is collected into the UDF closure — top-k search
    serves a BOUNDED query batch per job (the ``hyperplanes``/PQ
    codebook posture); chunk larger query sets across jobs. The bound
    is ENFORCED, not just documented (round-12 verdict #2): a cheap
    ``limit(max_query_batch + 1).count()`` probe runs before the
    collect, so an oversized query set fails with chunking guidance
    instead of a driver OOM. 100 TB: cost is one corpus scan per
    query batch with O(blocks * k * |Q|) shuffle rows; the matmul
    runs at BLAS speed instead of one Catalyst HOF fold per
    (row, query) pair.
    """
    probe = queries.select(query_id_col).limit(max_query_batch + 1).count()
    if probe > max_query_batch:
        raise ValueError(
            f"cosine_topk_blas query batch exceeds max_query_batch="
            f"{max_query_batch}: the batch is collected into the UDF "
            f"closure, so an unbounded batch is a driver OOM. Chunk "
            f"the query set across jobs (e.g. df.randomSplit or a "
            f"modulo filter on {query_id_col}) and union the results, "
            f"or raise max_query_batch deliberately."
        )
    q_rows = queries.select(query_id_col, query_vec_col).collect()
    qids = np.asarray([r[0] for r in q_rows], dtype=np.int64)
    Q = np.asarray([r[1] for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score_blocks(batches):
        # The block emits a SUPERSET of the global top-k by RAW score
        # threshold instead of a locally-ROUNDED top-k: numpy's
        # np.round is half-even while the Spark path's F.round is
        # HALF_UP, so rounding here could flip tie membership vs the
        # bruteforce/oracle order. Rounding at 9dp moves a value by
        # <= 5e-10, so rounded order can only disagree with raw order
        # for scores within 1e-9 of each other — every global top-k
        # member therefore has raw score >= (block's k-th best raw)
        # - 1e-9; the 2e-9 margin also absorbs BLAS-vs-Catalyst
        # last-ulp summation differences. _topk_per_query then applies
        # the ONLY rounding (Spark-side HALF_UP), identical to the
        # bruteforce path. Zero-norm vectors: numpy scores them NaN,
        # which the pandas->Spark hop converts to Arrow NULL — the
        # same NULL Catalyst's double Divide produces on a zero
        # divisor (measured, pinned in
        # test_blas_topk_zero_norm_and_tie_parity) — so both paths
        # DESC-rank them last. NaN counts as -inf for the local
        # threshold (a NULL ranks BELOW every finite cosine in the
        # global DESC order, so it must never displace a finite score
        # from the k-th-best threshold slot — mapping it to +inf did
        # exactly that and silently pruned true neighbors, round-11
        # advice) and is emitted unconditionally (costs a row per
        # block, never correctness: if NULLs belong in the global
        # top-k because a query has < k finite candidates, every block
        # must surface its NULLs for the global re-rank to see them).
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
                S = Xn @ Qn.T
            out_q, out_v, out_c = [], [], []
            for j in range(len(qids)):
                col = S[:, j]
                idx = np.nonzero(ids != qids[j])[0]
                nan = np.isnan(col[idx])
                ranked = np.where(nan, -np.inf, col[idx])
                if len(idx) > k:
                    kth = np.partition(ranked, len(ranked) - k)[
                        len(ranked) - k
                    ]
                    sel = idx[(ranked >= kth - 2e-9) | nan]
                else:
                    sel = idx
                out_q.extend([int(qids[j])] * len(sel))
                out_v.extend(ids[sel].tolist())
                out_c.extend(col[sel].tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "vec_id": out_v, "cosine": out_c}
            )

    cand = corpus.select(
        F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col)
    ).mapInPandas(score_blocks, "query_id long, vec_id long, cosine double")
    return _topk_per_query(cand, k)


def nndescent_knn_graph(
    corpus: DataFrame,
    k: int = 5,
    n_rounds: int = 2,
    n_bits: int | None = None,
    n_tables: int = 8,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    unit_df: DataFrame | None = None,
    int_planes: bool = False,
    span: int = 7,
    hashed_df: DataFrame | None = None,
    scored_df: DataFrame | None = None,
) -> DataFrame:
    """Approximate k-NN GRAPH over the whole corpus via NN-Descent
    (Dong et al., WWW'11) — the graph-refined ANN tier the similarity
    family was missing: LSH/IVF/PQ answer *query-time* top-k for a
    bounded query batch, this builds the all-nodes neighbor graph that
    corpus-wide steps (SemDeDup-style semantic pruning, hub/outlier
    audits, graph-based diversity sampling) consume.

    Shape, all DataFrame-native and deterministic:

    1. INIT: multi-table sign-LSH self-collision (seeded hyperplanes,
       the ``embedding_cosine_pairs`` bucketing) proposes directed
       candidate edges; exact unit-dot re-rank keeps each node's
       top-k. No all-pairs product — candidates exist only inside
       (table, bucket) cells. ``n_bits=None`` (default) sizes the
       bucket granularity to the CORPUS when this call hashes it (no
       ``hashed_df``/``scored_df``): one bounded count() job, then
       ``bits = log2(n / 64)`` clamped to [1, 16], targeting
       ~64 vectors per bucket — fixed bits either explode the init
       join (too few for a big corpus) or starve it (too many for a
       small one); the count-derived dial is the IVF codebook-stride
       posture.
    2. DESCEND (x ``n_rounds``): "a neighbor of my neighbor is likely
       my neighbor" — candidates are neighbors-of-neighbors over the
       UNDIRECTED current graph (forward edges + reverse edges, the
       reverse side capped at k per node: NN-Descent's reverse
       sampling, which bounds hub in-degree amplification), scored
       only for pairs not already in the graph (left_anti), unioned
       with the current scored edges, per-node top-k again. Each round
       is one equi-join on vec_id + one partitioned window; candidate
       volume is O(n * (2k)^2) rows per round.

    Scores are 9dp-rounded unit-vector dots under the family's shared
    (cosine DESC, id ASC) total order, so ties break identically to
    ``_topk_per_query`` and reruns are bit-stable.

    ``unit_df``: optional caller-persisted (vec_id, u) unit-vector
    frame (``unit_vectors`` layout) — skips the internal
    normalize+persist pass; the session-shared frame in
    ``registry.llm_q.shared_unit_embeddings`` is the intended source.
    LSH bucketing still reads the RAW vectors (sign bits are
    scale-invariant, so hashing raw vs unit is identical for nonzero
    norms — but zero-norm rows hash from raw values, not NaNs).

    100 TB posture: no driver-side data path (the only closure state
    is the kilobyte hyperplane matrix); every join is vec_id- or
    bucket-keyed hash equi; per-round state is the n*k edge frame,
    ``materialize_once``-persisted so round R+1's plan never replays
    rounds 1..R; hub skew in the reverse expansion is capped at k
    before the join (plus AQE skew-join). Isolated nodes (no LSH
    collision in any table) surface with degree < k and are the
    recall audit's job to flag, not silently backfilled.

    Returns (vec_id, nbr_id, cosine, rank) with rank 1..k per node.

    Measured on the near-uniform 64-dim fixture (500 vecs, k=5,
    recall@5 vs brute force; uniform vectors are NN-Descent's WORST
    case — no manifold for neighbor to propagate along): auto-bits
    init 0.867 -> descent r1 0.896 -> r2 0.902 (monotone, the
    property test pins descent >= init); table count is what buys
    the init: 4 tables 0.724 / 6 tables 0.840 / 8 tables 0.902 at
    the same rounds, so the default stays 8. Cost at sf0.1 (50k
    vecs): 4.7s for the whole corpus graph + audit — a CORPUS-WIDE
    build, not a query-time lookup; compare against one brute scan
    per query batch, not against LSH probe latency.
    

    NOTE (ADVICE r14): ``seed`` is UNUSED when ``int_planes=True`` —
    the md5-derived integer planes are a fixed public family, so
    varying seed does NOT give independent hash tables; use the
    gaussian planes (``int_planes=False``) for seeded families.
    """
    vecs = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    unit = (
        unit_df
        if unit_df is not None
        else unit_vectors(vecs).transform(materialize_once)
    )

    def score(edges: DataFrame) -> DataFrame:
        return (
            edges.join(
                unit.select(
                    F.col("vec_id").alias("src"), F.col("u").alias("us")
                ),
                "src",
            )
            .join(
                unit.select(
                    F.col("vec_id").alias("dst"), F.col("u").alias("ud")
                ),
                "dst",
            )
            .select(
                "src",
                "dst",
                F.round(
                    dot_product_col(F.col("us"), F.col("ud")), 9
                ).alias("cosine"),
            )
        )

    def topk(scored: DataFrame) -> DataFrame:
        w = Window.partitionBy("src").orderBy(
            F.col("cosine").desc(), F.col("dst")
        )
        return scored.withColumn(
            "rank", F.row_number().over(w)
        ).filter(F.col("rank") <= k)

    # ``scored_df``: caller-persisted SCORED init-candidate frame
    # (src, dst, cosine) — exactly ``lsh_scored_candidates`` of this
    # corpus's hashed frame under the same family (or an id-filtered
    # view of a superset's, which is bit-identical because buckets and
    # cosines are per-row/per-pair functions). Skips BOTH the hashing
    # and the init scoring pass (optimization round 16).
    if scored_df is not None:
        init_scored = scored_df
    else:
        # ``hashed_df``: caller-persisted maintained (vec_id, table_id,
        # bucket) frame for exactly ``corpus``'s rows under the SAME
        # plane family (``lsh_hashed_frame``) — skips the hashing pass.
        hashed = hashed_df
        if hashed is None:
            if n_bits is None:
                n = corpus.count()  # bounded scalar job, sizes the buckets
                n_bits = min(16, max(1, int(np.ceil(np.log2(max(n, 2) / 64)))))
            hashed = lsh_hashed_frame(
                vecs,
                n_bits,
                n_tables=n_tables,
                seed=seed,
                dim=dim,
                int_planes=int_planes,
                span=span,
            ).transform(materialize_once)
        init_scored = lsh_scored_candidates(hashed, unit)
    g = topk(init_scored).transform(materialize_once)
    for _ in range(int(n_rounds)):
        # LAZY lineage cut (optimization round 15; guide §5): the
        # plan truncation (LogicalRDD) is identical either way; eager
        # additionally ran one separate driver action per round, so a
        # fresh 2-round build scheduled 3 driver-synchronized jobs.
        # Lazy materializes each round inside its first consumer's
        # job (the block store serves the round's other consumers).
        # Local A/B: parity (4.7-5.3s warm both ways — candidate
        # scoring dominates, not the barriers); kept for the cluster
        # posture, where each extra action is a full-fleet barrier.
        g = cut_lineage(g)
        rev_w = Window.partitionBy("dst").orderBy(
            F.col("cosine").desc(), F.col("src")
        )
        rev = (
            g.withColumn("rrank", F.row_number().over(rev_w))
            .filter(F.col("rrank") <= k)
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        und = g.select("src", "dst").unionByName(rev)
        nn = (
            und.alias("p")
            .join(und.alias("q"), F.col("p.dst") == F.col("q.src"))
            .select(
                F.col("p.src").alias("src"), F.col("q.dst").alias("dst")
            )
            .filter(F.col("src") != F.col("dst"))
        )
        fresh = (
            nn.unionByName(rev)
            .dropDuplicates(["src", "dst"])
            .join(g.select("src", "dst"), ["src", "dst"], "left_anti")
        )
        g = topk(
            score(fresh).unionByName(g.select("src", "dst", "cosine"))
        )
    return g.select(
        F.col("src").alias("vec_id"),
        F.col("dst").alias("nbr_id"),
        "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


def lsh_hashed_frame(
    corpus: DataFrame,
    n_bits: int,
    n_tables: int = 8,
    seed: int = 42,
    dim: int = 64,
    int_planes: bool = False,
    span: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, table_id, bucket) sign-LSH frame of ``corpus`` — the
    maintained table the graph-family docstrings describe
    (optimization round 15): buckets are a per-row deterministic
    function of (embedding, plane family), so ONE hashing pass can
    feed a build, a query-time seeding, and a merge/compact repair
    that previously each re-hashed the corpus themselves. Callers
    pass the result (or an id-filtered subset — filtering commutes
    with per-row hashing) as ``hashed_df`` to
    ``nndescent_knn_graph`` / ``graph_search_topk`` /
    ``nndescent_merge_batch`` / ``nndescent_forget_compact`` built
    with the SAME (n_bits, n_tables, seed/int_planes, span) family."""
    if int_planes:
        bucket_udf = _int8_bucket_udf(
            int_lsh_planes(dim, n_bits, n_tables, span)
        )
    else:
        bucket_udf = _bucket_udf(
            [hyperplanes(dim, n_bits, seed + 1000 * t) for t in range(n_tables)]
        )
    return corpus.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(bucket_udf(F.col(vec_col))).alias(
            "table_id", "bucket"
        ),
    )


def lsh_scored_candidates(
    hashed: DataFrame,
    unit: DataFrame,
) -> DataFrame:
    """(src, dst, cosine) — the SCORED init-tier candidate frame: every
    distinct ordered sign-LSH self-collision pair of ``hashed``
    (``lsh_hashed_frame`` layout), exact-unit-dot scored at the
    family's 9dp rounding. This is precisely the frame
    ``nndescent_knn_graph(n_rounds=0)`` ranks, factored out
    (optimization round 16) so the audit queries that build TWO graphs
    over overlapping corpora (merge/forget lifecycle: maintained build
    + from-scratch rebuild + repair) can compute the scoring subtree
    ONCE and feed each leg an id-filtered view — per-row buckets and
    per-pair cosines are corpus-independent, so filtering the persisted
    frame is bit-identical to re-scoring the filtered corpus's
    collisions. Callers persist the result (``materialize_once``) and
    pass slices via the ``scored_df`` params of the graph functions.

    At 100 TB the scoring pass (|collisions| x O(dim) dots) dominates
    these audits; sharing it halves the dominant term the same way the
    round-15 ``lsh_hashed_frame`` sharing halved the hashing passes.
    """
    a, b = hashed.alias("a"), hashed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst")
        )
        .dropDuplicates(["src", "dst"])
    )
    return (
        pairs.join(
            unit.select(F.col("vec_id").alias("src"), F.col("u").alias("us")),
            "src",
        )
        .join(
            unit.select(F.col("vec_id").alias("dst"), F.col("u").alias("ud")),
            "dst",
        )
        .select(
            "src",
            "dst",
            F.round(dot_product_col(F.col("us"), F.col("ud")), 9).alias(
                "cosine"
            ),
        )
    )


def _auto_bits(corpus: DataFrame, n_bits: int | None) -> int:
    """Count-derived sign-LSH bucket granularity (~64 vectors per
    bucket), shared by the NN-Descent init and the graph-search
    seeding so both draw candidates from the SAME hash family.

    Round 15: the rule is PURE-INTEGER — bit_length((n-1) div 64) —
    fuzz-proven equal to the previous ceil(log2(n/64)) float rule for
    all n to 3e5 and all power-of-two neighborhoods to 2^24, but
    replayable in a SQL oracle as an exact CASE ladder with no libm
    log2 at the tier boundary (the 10x growth probe made auto-bits
    load-bearing for the hash-checked int8 graph family, see
    ``auto_bits_sql``)."""
    if n_bits is not None:
        return n_bits
    n = corpus.count()  # bounded scalar job, sizes the buckets
    return min(16, max(1, ((max(n, 2) - 1) // 64).bit_length()))


def graph_search_topk(
    corpus: DataFrame,
    queries: DataFrame,
    graph: DataFrame,
    k: int = 5,
    n_hops: int = 2,
    n_bits: int | None = None,
    n_tables: int = 8,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    unit_df: DataFrame | None = None,
    int_planes: bool = False,
    span: int = 7,
    hashed_df: DataFrame | None = None,
) -> DataFrame:
    """Query-time top-k over a maintained NN-Descent k-NN graph —
    the greedy graph-descent consumer the graph tier exists for (the
    HNSW-class search pattern: seed, then walk neighbors-of-neighbors
    toward the query), VERDICT r11 #4. ``graph`` is the
    (vec_id, nbr_id, cosine, rank) frame ``nndescent_knn_graph``
    returns — in production a maintained TABLE, rebuilt/merged on
    ingest, not per query.

    DataFrame-native beam search, beam = k, no driver data path:

    1. SEED: hash queries AND corpus with the same seeded hyperplane
       tables as the graph init (``_auto_bits`` keeps the bucket
       granularity identical, so seeds land where the graph has
       edges); candidates = (table, bucket) equi-join collisions,
       exact unit-dot re-rank keeps each query's top-k as the initial
       beam. A query colliding with nothing in any table returns no
       rows (surfaced by the recall audit, never silently backfilled
       — the multi-probe dial in ``lsh_ann_topk`` is the fix if a
       real corpus ever shows it).
    2. HOP (x ``n_hops``): expand the beam's members through their
       graph out-edges (one equi-join per hop), anti-join the
       already-scored set, score only the NEW candidates, re-rank the
       union, keep k. Per-hop candidate volume is O(|Q| * k^2) rows.

    Scores are 9dp-rounded unit dots under the family's shared
    (cosine DESC, vec_id ASC) order, so results are deterministic and
    comparable with every other ANN leg. The query batch stays a
    DataFrame end-to-end (bounded-batch contract like LSH/IVF/PQ).

    100 TB posture: the corpus is touched only by the seeding
    projection + bucket equi-join; every hop joins the (n*k)-row
    graph table on vec_id and scores O(|Q|*k^2) pairs against the
    persisted unit frame — query cost is independent of corpus size
    after seeding, which is the entire point of the graph tier.
    

    NOTE (ADVICE r14): ``seed`` is UNUSED when ``int_planes=True`` —
    the md5-derived integer planes are a fixed public family, so
    varying seed does NOT give independent hash tables; use the
    gaussian planes (``int_planes=False``) for seeded families.
    """
    vecs = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    unit = (
        unit_df
        if unit_df is not None
        else unit_vectors(vecs).transform(materialize_once)
    )
    bits = _auto_bits(corpus, n_bits)
    if int_planes:
        # md5-derived integer planes: seeding becomes
        # engine-reproducible, so with an int-plane init-tier graph
        # the WHOLE search (seed + hops + re-rank) replays in SQL —
        # the hash-checked variant (round-14, VERDICT r13 #9).
        bucket_udf = _int8_bucket_udf(
            int_lsh_planes(dim, bits, n_tables, span)
        )
    else:
        bucket_udf = _bucket_udf(
            [
                hyperplanes(dim, bits, seed + 1000 * t)
                for t in range(n_tables)
            ]
        )
    # ``hashed_df``: the maintained corpus hash frame (the docstring's
    # production posture — optimization round 15); the queries below
    # are still hashed here (a bounded batch).
    hashed = (
        hashed_df
        if hashed_df is not None
        else vecs.select(
            "vec_id",
            F.posexplode(bucket_udf(F.col("embedding"))).alias(
                "table_id", "bucket"
            ),
        )
    )
    q_unit = unit_vectors(
        queries, id_col=query_id_col, vec_col=query_vec_col
    ).select(F.col("vec_id").alias("query_id"), F.col("u").alias("qu"))
    q_hashed = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.posexplode(bucket_udf(F.col(query_vec_col))).alias(
            "table_id", "bucket"
        ),
    )
    seeds = (
        hashed.join(F.broadcast(q_hashed), ["table_id", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )

    def score(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(unit, "vec_id")
            .join(F.broadcast(q_unit), "query_id")
            .select(
                "query_id",
                "vec_id",
                F.round(
                    dot_product_col(F.col("u"), F.col("qu")), 9
                ).alias("cosine"),
            )
        )

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    scored = score(seeds).transform(materialize_once)
    edges = graph.select(
        F.col("vec_id").alias("hop_src"), F.col("nbr_id").alias("vec_id")
    )
    for _ in range(int(n_hops)):
        beam = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("vec_id").alias("hop_src"))
        )
        fresh = (
            beam.join(edges, "hop_src")
            .select("query_id", "vec_id")
            .filter(F.col("vec_id") != F.col("query_id"))
            .dropDuplicates(["query_id", "vec_id"])
            .join(
                scored.select("query_id", "vec_id"),
                ["query_id", "vec_id"],
                "left_anti",
            )
        )
        scored = materialize_once(
            score(fresh).unionByName(
                scored.select("query_id", "vec_id", "cosine")
            )
        )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


def nndescent_merge_batch(
    graph: DataFrame,
    old_corpus: DataFrame,
    batch: DataFrame,
    k: int = 5,
    n_bits: int | None = None,
    n_tables: int = 8,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    unit_df: DataFrame | None = None,
    expand_hops: int = 0,
    int_planes: bool = False,
    span: int = 7,
    hashed_df: DataFrame | None = None,
    scored_cand_df: DataFrame | None = None,
) -> DataFrame:
    """Merge a new-vector batch into a maintained NN-Descent k-NN
    graph WITHOUT rebuilding it — the similarity-family analogue of
    ``incremental_connected_components`` (VERDICT r11 #6), completing
    the maintained-index story (pair graph, component labels, gram
    index, k-NN graph).

    Candidates touch only affected neighborhoods, never the corpus:

    1. Hash the BATCH with the graph's seeded hyperplane tables and
       equi-join against the hashed old corpus + the batch itself —
       every new LSH collision pair involving a batch node, BOTH
       directions (the batch node needs neighbors; the old node may
       have gained a better one). ``n_bits`` must be the FIXED value
       the maintained graph was built with (pass it explicitly when
       maintaining across ingests; the count-derived auto-sizing is a
       rebuild-time dial — re-deriving it per batch would silently
       change the hash family and the exactness guarantee below).
    2. ``expand_hops=1`` additionally walks each new pair through the
       old graph's out-edges once (batch node -> neighbors of its
       collision partners, and reverse) — NN-Descent's
       neighbor-of-neighbor step restricted to the affected
       neighborhoods. More candidates can only improve each node's
       top-k toward the true neighbors (recall is monotone in the
       candidate set under exact re-ranking), pinned by the property
       test.
    3. Score the fresh pairs (anti-joined against existing edges),
       then re-rank ONLY the touched sources: top-k over (their old
       edges + fresh edges); untouched rows pass through byte-equal.

    EXACTNESS (the incremental-CC-grade property, pytest-pinned): for
    an init-tier maintained graph (``n_rounds=0`` build) and
    ``expand_hops=0``, the merged graph EQUALS
    ``nndescent_knn_graph(old ∪ batch, n_rounds=0)`` at the same
    fixed ``n_bits`` — per-node sign-LSH buckets don't depend on the
    rest of the corpus, so the full-corpus collision set is exactly
    (old collisions) ∪ (collisions involving the batch), and
    topk(topk(A) ∪ B) == topk(A ∪ B). Descended graphs merge the
    same way but the result is a SUPERSET-candidate top-k rather
    than a replay of the full descent schedule; the property test
    pins its recall >= the init-tier merge's.

    100 TB posture: admission cost scales with the batch (batch
    hashing + bucket equi-joins + O(batch * k^2) expansion pairs);
    the only corpus-wide touch is re-hashing the old corpus — one
    map-only projection, and a production pipeline keeps the hashed
    (vec_id, table_id, bucket) frame as a maintained table next to
    the graph, exactly like the substring gram index.

    Returns the merged (vec_id, nbr_id, cosine, rank) frame.
    

    NOTE (ADVICE r14): ``seed`` is UNUSED when ``int_planes=True`` —
    the md5-derived integer planes are a fixed public family, so
    varying seed does NOT give independent hash tables; use the
    gaussian planes (``int_planes=False``) for seeded families.
    """
    old_vecs = old_corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    new_vecs = batch.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    full = old_vecs.unionByName(new_vecs)
    unit = (
        unit_df
        if unit_df is not None
        else unit_vectors(full).transform(materialize_once)
    )
    g_edges = graph.select(
        F.col("vec_id").alias("src"),
        F.col("nbr_id").alias("dst"),
        "cosine",
    )
    if scored_cand_df is not None:
        # ``scored_cand_df``: caller-persisted SCORED candidate frame
        # — the batch-involving slice of ``lsh_scored_candidates``
        # over the FULL (old ∪ batch) corpus under the graph's family
        # (optimization round 16). Set-equal to the hashed path below:
        # the full collision set restricted to pairs with a batch
        # endpoint is exactly ob ∪ reverse(ob) ∪ nn_pairs (the
        # collision self-join emits both directions), and the cosines
        # come from the same unit frame at the same 9dp rounding.
        # ``expand_hops`` walks the graph beyond the collision set, so
        # this fast path only applies to the init-tier merge.
        assert int(expand_hops) == 0, (
            "scored_cand_df covers bucket collisions only; "
            "expand_hops > 0 must score its own expansion pairs"
        )
        scored_fresh = scored_cand_df.join(
            g_edges.select("src", "dst"), ["src", "dst"], "left_anti"
        ).transform(materialize_once)
    else:
        bits = _auto_bits(full, n_bits)
        if int_planes:
            # md5-derived integer planes (round-14): with an int-plane
            # maintained graph the merged result is SQL-replayable —
            # see similarity_int8_knn_merge.
            bucket_udf = _int8_bucket_udf(
                int_lsh_planes(dim, bits, n_tables, span)
            )
        else:
            bucket_udf = _bucket_udf(
                [
                    hyperplanes(dim, bits, seed + 1000 * t)
                    for t in range(n_tables)
                ]
            )

        def hash_side(df: DataFrame) -> DataFrame:
            return df.select(
                "vec_id",
                F.posexplode(bucket_udf(F.col("embedding"))).alias(
                    "table_id", "bucket"
                ),
            )

        # ``hashed_df``: caller-persisted hash frame of exactly
        # ``old_corpus``'s rows under the same family — the maintained
        # table this docstring prescribes (optimization round 15); the
        # batch is always hashed here (batch-sized work).
        h_old = hashed_df if hashed_df is not None else hash_side(old_vecs)
        h_new = hash_side(new_vecs).transform(materialize_once)
        ob = (
            h_old.alias("o")
            .join(h_new.alias("n"), ["table_id", "bucket"])
            .filter(F.col("o.vec_id") != F.col("n.vec_id"))
            .select(
                F.col("o.vec_id").alias("src"), F.col("n.vec_id").alias("dst")
            )
        )
        nn_pairs = (
            h_new.alias("a")
            .join(h_new.alias("b"), ["table_id", "bucket"])
            .filter(F.col("a.vec_id") != F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst")
            )
        )
        cand = (
            ob.unionByName(ob.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
            .unionByName(nn_pairs)
            .dropDuplicates(["src", "dst"])
            .transform(materialize_once)
        )
        for _ in range(int(expand_hops)):
            nbrs = g_edges.select(
                F.col("src").alias("via"), F.col("dst").alias("nbr")
            )
            ext = (
                cand.join(nbrs, cand["dst"] == nbrs["via"])
                .select("src", F.col("nbr").alias("dst"))
                .filter(F.col("src") != F.col("dst"))
            )
            rext = ext.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
            cand = (
                cand.unionByName(ext)
                .unionByName(rext)
                .dropDuplicates(["src", "dst"])
                .transform(materialize_once)
            )
        fresh = cand.join(
            g_edges.select("src", "dst"), ["src", "dst"], "left_anti"
        )
        scored_fresh = (
            fresh.join(
                unit.select(
                    F.col("vec_id").alias("src"), F.col("u").alias("us")
                ),
                "src",
            )
            .join(
                unit.select(
                    F.col("vec_id").alias("dst"), F.col("u").alias("ud")
                ),
                "dst",
            )
            .select(
                "src",
                "dst",
                F.round(dot_product_col(F.col("us"), F.col("ud")), 9).alias(
                    "cosine"
                ),
            )
            .transform(materialize_once)
        )
    touched = scored_fresh.select("src").distinct()
    kept = graph.join(
        touched.select(F.col("src").alias("vec_id")), "vec_id", "left_anti"
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cosine").desc(), F.col("dst")
    )
    re_ranked = (
        g_edges.join(touched, "src", "left_semi")
        .unionByName(scored_fresh)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("src").alias("vec_id"),
            F.col("dst").alias("nbr_id"),
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )
    return kept.unionByName(re_ranked)


def nndescent_forget_compact(
    graph: DataFrame,
    corpus: DataFrame,
    forget: DataFrame,
    k: int = 5,
    n_bits: int | None = None,
    n_tables: int = 8,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    unit_df: DataFrame | None = None,
    int_planes: bool = False,
    span: int = 7,
    hashed_df: DataFrame | None = None,
    scored_df: DataFrame | None = None,
) -> DataFrame:
    """Compact a maintained NN-Descent k-NN graph after a deletion
    batch — the forget-side counterpart of ``nndescent_merge_batch``
    (round-12 verdict #8): dropping a document from the corpus (e.g.
    via ``pipeline_forget_expand``'s component expansion) must also
    drop it from the similarity index, and every node that LOST a
    neighbor must be repaired, or future graph searches walk through
    ghosts.

    Stages, all bounded by the affected neighborhoods:

    1. DROP: edges whose source OR neighbor is forgotten are removed
       (one broadcast anti-join each way — a deletion batch is small).
    2. TOUCHED: surviving sources that lost >= 1 edge. Only they can
       differ from a rebuild; untouched rows pass through byte-equal.
    3. REPAIR: re-hash the SURVIVING corpus with the graph's fixed
       seeded hyperplane tables (``n_bits`` must be the build-time
       value, exactly as in ``nndescent_merge_batch``); candidates =
       bucket collisions restricted to touched sources; anti-join the
       kept edges; exact unit-dot re-rank of (kept ∪ fresh) per
       touched source under the family's (9dp cosine DESC, id) order.

    EXACTNESS (pytest-pinned, same grade as the merge): for an
    init-tier graph (``n_rounds=0`` build) at fixed ``n_bits``, the
    compacted graph EQUALS ``nndescent_knn_graph(corpus \\ forget,
    n_rounds=0)`` — per-node buckets are corpus-independent, so a
    touched node's bucket re-join yields ALL its surviving collisions
    and top-k(kept ∪ collisions) is the rebuild's top-k; an untouched
    node's old top-k members all survive, and removing non-members
    never changes a top-k. Descended graphs compact the same way;
    the result is a superset-candidate top-k (recall floor pinned).

    100 TB posture: cost scales with |forget| x bucket occupancy
    (touched-side hash join), plus the one map-only re-hash of the
    surviving corpus that a production pipeline amortizes by keeping
    the hashed (vec_id, table_id, bucket) frame as a maintained table
    next to the graph.
    

    NOTE (ADVICE r14): ``seed`` is UNUSED when ``int_planes=True`` —
    the md5-derived integer planes are a fixed public family, so
    varying seed does NOT give independent hash tables; use the
    gaussian planes (``int_planes=False``) for seeded families.
    """
    fids = forget.select(F.col(forget.columns[0]).alias("fid")).distinct()
    survivors = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).join(
        F.broadcast(fids), F.col("vec_id") == F.col("fid"), "left_anti"
    )
    unit = (
        unit_df
        if unit_df is not None
        else unit_vectors(survivors).transform(materialize_once)
    )
    src_kept = graph.join(
        F.broadcast(fids), graph["vec_id"] == F.col("fid"), "left_anti"
    )
    kept = src_kept.join(
        F.broadcast(fids), src_kept["nbr_id"] == F.col("fid"), "left_anti"
    ).transform(materialize_once)
    touched = (
        src_kept.join(
            F.broadcast(fids), src_kept["nbr_id"] == F.col("fid"), "left_semi"
        )
        .select("vec_id")
        .distinct()
        .transform(materialize_once)
    )
    kept_edges = kept.select(
        F.col("vec_id").alias("src"), F.col("nbr_id").alias("dst"), "cosine"
    )
    if scored_df is not None:
        # ``scored_df``: caller-persisted SCORED survivor-collision
        # frame (``lsh_scored_candidates`` of the surviving corpus's
        # hashed frame under the graph's family — optimization round
        # 16): the repair's candidates are its touched-source slice,
        # already scored, so the repair SHARES the rebuild leg's one
        # scoring pass instead of re-scoring its candidate subset.
        # Set-equal to the hashed path below: per-node buckets are
        # corpus-independent, so the touched slice of the survivor
        # collision set IS h_touched x hashed, and the cosine values
        # come from the same unit frame at the same 9dp rounding.
        scored_fresh = scored_df.join(
            touched.select(F.col("vec_id").alias("src")), "src", "left_semi"
        ).join(kept_edges.select("src", "dst"), ["src", "dst"], "left_anti")
    else:
        bits = _auto_bits(survivors, n_bits)
        if int_planes:
            # md5-derived integer planes (round-14): with an int-plane
            # maintained graph the compacted result is SQL-replayable —
            # see similarity_int8_knn_forget.
            bucket_udf = _int8_bucket_udf(
                int_lsh_planes(dim, bits, n_tables, span)
            )
        else:
            bucket_udf = _bucket_udf(
                [
                    hyperplanes(dim, bits, seed + 1000 * t)
                    for t in range(n_tables)
                ]
            )
        # ``hashed_df``: caller-persisted hash frame of exactly the
        # SURVIVING rows under the graph's family — the maintained
        # table the 100 TB note below prescribes (optimization r15).
        hashed = (
            hashed_df
            if hashed_df is not None
            else survivors.select(
                "vec_id",
                F.posexplode(bucket_udf(F.col("embedding"))).alias(
                    "table_id", "bucket"
                ),
            ).transform(materialize_once)
        )
        h_touched = hashed.join(touched, "vec_id", "left_semi")
        cand = (
            h_touched.alias("a")
            .join(hashed.alias("b"), ["table_id", "bucket"])
            .filter(F.col("a.vec_id") != F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("src"),
                F.col("b.vec_id").alias("dst"),
            )
            .dropDuplicates(["src", "dst"])
        )
        fresh = cand.join(
            kept_edges.select("src", "dst"), ["src", "dst"], "left_anti"
        )
        scored_fresh = (
            fresh.join(
                unit.select(
                    F.col("vec_id").alias("src"), F.col("u").alias("us")
                ),
                "src",
            )
            .join(
                unit.select(
                    F.col("vec_id").alias("dst"), F.col("u").alias("ud")
                ),
                "dst",
            )
            .select(
                "src",
                "dst",
                F.round(
                    dot_product_col(F.col("us"), F.col("ud")), 9
                ).alias("cosine"),
            )
        )
    untouched = kept.join(touched, "vec_id", "left_anti")
    w = Window.partitionBy("src").orderBy(
        F.col("cosine").desc(), F.col("dst")
    )
    repaired = (
        kept_edges.join(touched.select(F.col("vec_id").alias("src")),
                        "src", "left_semi")
        .unionByName(scored_fresh)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("src").alias("vec_id"),
            F.col("dst").alias("nbr_id"),
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )
    return untouched.unionByName(repaired)


def _int8_pq_books(cent_rows, m: int, ksub: int) -> np.ndarray:
    """(m, ksub, dim//m) integer codebooks from the md5-picked corpus
    vectors: subspace j's codewords are the int8 SUBVECTOR codes of
    the ksub vectors ranked by md5('pq:<j>:' || vec_id). Pure
    arithmetic on public digests + the shared exact quantization —
    any engine regenerates the identical books."""
    dim = len(cent_rows[0][0][1])
    sub = dim // m
    books = np.empty((m, ksub, sub))
    for j in range(m):
        rows = cent_rows[j]
        Q = _int8_codes(
            np.asarray([r[1] for r in rows], dtype=np.float64)
        )
        books[j] = Q[:, j * sub : (j + 1) * sub]
    return books


def _int8_pq_encode_udf(books: np.ndarray):
    """Arrow-batch integer-PQ encoder: int8-quantize the vector
    (shared exact rule), then per subspace emit the codeword with the
    smallest INTEGER squared L2 distance (ties -> lower codeword
    rank, numpy argmin's first-min). Every distance is a sum of 16
    squared integer diffs <= 254^2 — exact in float64 under any
    summation order, so the SQL replay cannot disagree."""
    m, ksub, sub = books.shape

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        X = _int8_codes(np.stack(vecs.to_numpy()).astype(np.float64))
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            Xj = X[:, j * sub : (j + 1) * sub]
            d2 = ((Xj[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
            codes[:, j] = d2.argmin(1)
        return pd.Series(list(codes))

    return encode


def int8_pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 16,
    ksub: int = 32,
    rerank: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """REPRODUCIBLE PQ ANN — the third member of the int8 integer
    family (after LSH and IVF): every retrieval stage is exact
    integer arithmetic or a single IEEE op, so a DuckDB oracle
    replays it bit-for-bit (the float PQ's k-means codebooks are
    iterative float means, hence recall-pinned rows-only).

    - BOOKS: subspace j's ksub codewords are the int8 subvector codes
      of the corpus vectors ranked by ``md5('pq:<j>:' || vec_id)`` —
      a per-subspace deterministic sample both engines compute
      natively (codebook quality below trained k-means, exactly the
      IVF trade: reproducibility over recall; the exact re-rank
      recovers precision on the candidate set).
    - ENCODE: one corpus scan -> m codeword ids by integer L2
      (exact), plus the reconstruction self-dot (integer).
    - ADC: per (query, vec): integer LUT sum of subspace dots, then
      approx cosine = adc / sqrt(selfdot) — the per-vector int8
      scale CANCELS in this ratio, and it is one integer-ratio
      divide + sqrt, deterministic on any engine. Zero
      reconstructions score NULL in BOTH engines (explicit guard —
      Catalyst's double divide would NULL where DuckDB gives inf).
    - RE-RANK: top k*rerank ADC candidates per query, exact float
      cosine under the family's shared (9dp DESC, vec_id) order.

    100 TB: codebooks are m bounded TakeOrdered picks; encode is one
    scan emitting m+1 small ints per row (the 32x compression that
    makes the index fit); ADC joins the code frame against a
    broadcast per-query LUT — no all-pairs float work, and the exact
    re-rank touches k*rerank rows per query.

    MEASURED growth (r14, ``tools/heavy_growth_r14.log``): 3x corpus,
    fixed 10-query batch -> spark x1.20 / oracle x2.42 — linear, but
    with the LARGEST slope of the int8 family because flat ADC scans
    ALL n codes per query; ``int8_ivfpq_ann_topk`` is the documented
    scale path (probe-fraction slope).
    """
    # All m per-subspace codebook picks in ONE job: explode each
    # corpus row to its m subspace lanes, rank within each lane by the
    # lane-seeded md5 digest (WindowGroupLimit keeps the rank filter
    # per-partition), collect the m*ksub winners — one bounded
    # collect instead of m TakeOrdered round-trips.
    lanes = corpus.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv"),
        F.explode(F.array(*[F.lit(j) for j in range(m)])).alias("j"),
    )
    wj = Window.partitionBy("j").orderBy(
        F.md5(
            F.concat(
                F.lit("pq:"),
                F.col("j").cast("string"),
                F.lit(":"),
                F.col("cid").cast("string"),
            )
        ),
        "cid",
    )
    picked = (
        lanes.withColumn("crank", F.row_number().over(wj) - 1)
        .filter(F.col("crank") < ksub)
        .select("j", "crank", "cid", "cv")
        .collect()
    )
    cent_rows = [
        [
            (r.cid, r.cv)
            for r in sorted(
                (x for x in picked if x.j == j), key=lambda x: x.crank
            )
        ]
        for j in range(m)
    ]
    books = _int8_pq_books(cent_rows, m, ksub)
    encode = _int8_pq_encode_udf(books)
    # per-codeword self-dots (exact ints), flattened (m * ksub,)
    self_dots = np.einsum("mkd,mkd->mk", books, books).ravel().tolist()
    self_arr = F.array(*[F.lit(float(x)) for x in self_dots])

    codes = corpus.select(
        F.col(id_col).alias("vec_id"),
        encode(F.col(vec_col)).alias("codes"),
    )
    codes = codes.withColumn("sd", self_arr).withColumn(
        "selfdot",
        F.expr(
            f"aggregate(sequence(0, {m - 1}), CAST(0.0 AS DOUBLE), "
            f"(acc, j) -> acc + element_at(sd, "
            f"j * {ksub} + element_at(codes, j + 1) + 1))"
        ),
    ).drop("sd")

    flat = books.reshape(m * ksub, -1)  # (m*ksub, sub)

    @F.pandas_udf(ArrayType(DoubleType()))
    def lut_udf(qvecs: pd.Series) -> pd.Series:
        Q = _int8_codes(np.stack(qvecs.to_numpy()).astype(np.float64))
        sub = Q.shape[1] // m
        L = np.einsum(
            "nmd,mkd->nmk", Q.reshape(len(Q), m, sub), books
        )  # exact: integer-valued operands
        return pd.Series([row.ravel().tolist() for row in L])

    lut_df = queries.select(
        F.col(query_id_col).alias("query_id"),
        lut_udf(F.col(query_vec_col)).alias("lut"),
    )
    adc = (
        codes.join(F.broadcast(lut_df))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "selfdot",
            F.expr(
                f"aggregate(sequence(0, {m - 1}), CAST(0.0 AS DOUBLE), "
                f"(acc, j) -> acc + element_at(lut, "
                f"j * {ksub} + element_at(codes, j + 1) + 1))"
            ).alias("iadc"),
        )
        .select(
            "query_id",
            "vec_id",
            F.when(
                F.col("selfdot") > 0,
                F.col("iadc") / F.sqrt(F.col("selfdot")),
            ).alias("acos"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("acos").desc_nulls_last(), F.col("vec_id")
    )
    cand = (
        adc.withColumn("arn", F.row_number().over(wa))
        .filter(F.col("arn") <= k * rerank)
        .select("query_id", "vec_id")
    )
    paired = cand.join(
        corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ),
        "vec_id",
    ).join(
        F.broadcast(
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(query_vec_col).alias("query_vec"),
            )
        ),
        "query_id",
    )
    scored = paired.select(
        "query_id",
        "vec_id",
        cosine_similarity_col(
            F.col("embedding"), F.col("query_vec")
        ).alias("cosine"),
    )
    return _topk_per_query(scored, k)


def int8_ivfpq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 16,
    ksub: int = 32,
    rerank: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    book_corpus: DataFrame | None = None,
) -> DataFrame:
    """REPRODUCIBLE IVF-PQ (IVFADC-shaped) ANN — the composition of
    the two hash-checked parents (round-13 verdict Next #3): int8-IVF's
    md5-seeded list assignment gates int8-PQ's ADC scan so the LUT sum
    touches ONLY the ``n_probe``/``n_lists`` probed fraction of the
    code table. This is the standard 100 TB ANN shape (Jegou, Douze,
    Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
    2011 — the IVFADC system; see PAPERS.md), with one deliberate
    simplification: codes are GLOBAL (non-residual) PQ codes rather
    than residual codes. Residual encoding buys recall at equal probe
    cost, but the reconstruction self-dot would become
    centroid+codeword cross terms; keeping the parents' exact-integer
    stages verbatim keeps the whole retrieval SQL-replayable — the
    property this family exists for. The exact re-rank recovers
    precision on the candidate set either way.

    Stages, each inherited unchanged from a hash-checked parent:

    1. CENTROIDS: the ``int8_ivf_ann_topk`` pick — smallest
       ``md5('ivf:' || vec_id)`` digests, int8 centroid codes.
    2. BOOKS: the ``int8_pq_ann_topk`` pick — per-subspace
       ``md5('pq:<j>:' || vec_id)`` ranked int8 subvector codes.
    3. ENCODE+ASSIGN: ONE corpus scan emits (codes, selfdot, list_id)
       — the PQ encode and the IVF top-1 integer-dot assignment fused
       into a single projection (flat PQ and IVF each cost one scan;
       the composition still costs one).
    4. PROBED ADC: query LUTs join the code frame ON ``list_id`` —
       a broadcast HASH join (the flat PQ's bounded
       BroadcastNestedLoopJoin becomes an equi-join), so ADC work is
       the probe fraction of the corpus, not all of it.
    5. RE-RANK: top ``k*rerank`` ADC candidates per query, exact
       float cosine under the family's shared (9dp DESC, vec_id)
       order.

    100 TB: centroid/book picks are bounded TakeOrdered collects;
    encode+assign is one scan emitting m+2 small ints per row; the
    ADC join fans out |Q| * n_probe * (n/n_lists) rows — dial
    ``n_lists`` up with corpus size so the probed fraction stays
    constant, exactly the IVFADC recipe.

    MEASURED growth (r14, ``tools/heavy_growth_r14.log``): 3x corpus,
    fixed 10-query batch -> spark x1.16 / oracle x2.85 — linear with
    the probe-fraction (n_probe/n_lists) ADC slope; already ahead of
    flat PQ at 6k vectors (2.4 vs 2.6s spark, 3.2 vs 3.4s oracle)
    despite paying both the centroid and codebook picks.

    ``book_corpus``: the ENCODE-ON-INGEST posture (FAISS ``add()``,
    round-14): centroids and codebooks derive from this BASE corpus
    (the data present at index-build time) while assignment, encode,
    ADC, and re-rank run over the full ``corpus`` (base plus
    everything ingested since) — a production index trains its
    quantizers once and encodes arrivals against them; retraining on
    every batch would silently re-shuffle every stored code. The
    picks stay md5 TakeOrdereds over the base ids, so the whole
    maintained-index retrieval remains SQL-replayable.
    """
    books_src = book_corpus if book_corpus is not None else corpus
    # Quantizer training, ONE corpus scan (optimization round 15;
    # guide §1.2/§2.4): the IVF centroid pick used to be its own
    # TakeOrdered job over books_src next to the codebook lanes job —
    # two full training scans per index build. The centroid lane now
    # rides the SAME lanes explode as sentinel subspace j = -1
    # (ranked by md5('ivf:' || cid) exactly as before, capped at
    # n_lists), so one WindowGroupLimit job + one bounded collect
    # yields both quantizers. Picks are bit-identical: each lane keeps
    # its own md5 ranking; orderBy+limit and row_number-over-the-same-
    # order agree on both membership and order.
    lanes = books_src.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv"),
        F.explode(F.array(*[F.lit(j) for j in range(-1, m)])).alias("j"),
    )
    wj = Window.partitionBy("j").orderBy(
        F.when(
            F.col("j") == -1,
            F.md5(F.concat(F.lit("ivf:"), F.col("cid").cast("string"))),
        ).otherwise(
            F.md5(
                F.concat(
                    F.lit("pq:"),
                    F.col("j").cast("string"),
                    F.lit(":"),
                    F.col("cid").cast("string"),
                )
            )
        ),
        "cid",
    )
    picked = (
        lanes.withColumn("crank", F.row_number().over(wj) - 1)
        .filter(
            F.col("crank")
            < F.when(F.col("j") == -1, F.lit(n_lists)).otherwise(F.lit(ksub))
        )
        .select("j", "crank", "cid", "cv")
        .collect()
    )
    cent_rows = sorted(
        (x for x in picked if x.j == -1), key=lambda x: x.crank
    )
    C = _int8_codes(np.asarray([r.cv for r in cent_rows], dtype=np.float64))
    cent_lists = [
        [
            (r.cid, r.cv)
            for r in sorted(
                (x for x in picked if x.j == j), key=lambda x: x.crank
            )
        ]
        for j in range(m)
    ]
    books = _int8_pq_books(cent_lists, m, ksub)
    encode = _int8_pq_encode_udf(books)
    self_dots = np.einsum("mkd,mkd->mk", books, books).ravel().tolist()
    self_arr = F.array(*[F.lit(float(x)) for x in self_dots])

    # ONE corpus scan: PQ codes + reconstruction selfdot + IVF list.
    codes = corpus.select(
        F.col(id_col).alias("vec_id"),
        encode(F.col(vec_col)).alias("codes"),
        F.element_at(_int8_assign_udf(C, 1)(F.col(vec_col)), 1).alias(
            "list_id"
        ),
    )
    codes = codes.withColumn("sd", self_arr).withColumn(
        "selfdot",
        F.expr(
            f"aggregate(sequence(0, {m - 1}), CAST(0.0 AS DOUBLE), "
            f"(acc, j) -> acc + element_at(sd, "
            f"j * {ksub} + element_at(codes, j + 1) + 1))"
        ),
    ).drop("sd")

    @F.pandas_udf(ArrayType(DoubleType()))
    def lut_udf(qvecs: pd.Series) -> pd.Series:
        Q = _int8_codes(np.stack(qvecs.to_numpy()).astype(np.float64))
        sub = Q.shape[1] // m
        L = np.einsum(
            "nmd,mkd->nmk", Q.reshape(len(Q), m, sub), books
        )  # exact: integer-valued operands
        return pd.Series([row.ravel().tolist() for row in L])

    # Probe list ids and the ADC LUT ride the same small query frame,
    # so the ADC join below is a broadcast HASH join on list_id.
    probe_lut = queries.select(
        F.col(query_id_col).alias("query_id"),
        lut_udf(F.col(query_vec_col)).alias("lut"),
        F.explode(
            _int8_assign_udf(C, n_probe)(F.col(query_vec_col))
        ).alias("list_id"),
    )
    adc = (
        codes.join(F.broadcast(probe_lut), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "selfdot",
            F.expr(
                f"aggregate(sequence(0, {m - 1}), CAST(0.0 AS DOUBLE), "
                f"(acc, j) -> acc + element_at(lut, "
                f"j * {ksub} + element_at(codes, j + 1) + 1))"
            ).alias("iadc"),
        )
        .select(
            "query_id",
            "vec_id",
            F.when(
                F.col("selfdot") > 0,
                F.col("iadc") / F.sqrt(F.col("selfdot")),
            ).alias("acos"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("acos").desc_nulls_last(), F.col("vec_id")
    )
    cand = (
        adc.withColumn("arn", F.row_number().over(wa))
        .filter(F.col("arn") <= k * rerank)
        .select("query_id", "vec_id")
    )
    paired = cand.join(
        corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ),
        "vec_id",
    ).join(
        F.broadcast(
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(query_vec_col).alias("query_vec"),
            )
        ),
        "query_id",
    )
    scored = paired.select(
        "query_id",
        "vec_id",
        cosine_similarity_col(
            F.col("embedding"), F.col("query_vec")
        ).alias("cosine"),
    )
    return _topk_per_query(scored, k)


def incremental_embedding_near_dup(
    corpus: DataFrame,
    incoming: DataFrame,
    threshold: float = 0.45,
    n_bits: int = 6,
    n_tables: int = 16,
    span: int = 7,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    unit_df: DataFrame | None = None,
) -> DataFrame:
    """Incremental embedding near-dup: for each INCOMING vector, its
    best corpus match at cosine >= threshold — the daily-ingest shape
    of ``embedding_cosine_pairs`` (the embedding twin of
    ``dedup.incremental_near_dup``), built on the REPRODUCIBLE int8
    integer planes so the probe is engine-stable across ingests and
    engines (an index maintained for months must not depend on a
    numpy RNG state).

    Shape: the corpus is bucketed once (at scale a maintained
    (vec_id, table_id, bucket) table persisted next to the
    embeddings); the incoming batch is bucketed and equi-joined —
    cost O(|batch| * bucket occupancy), never a corpus rescan. Exact
    unit-dot verification, per-doc argmax (cosine DESC, corpus id) by
    one partitioned window over the batch's candidates.

    Returns (vec_id, matched_vec, cosine) — one row per incoming
    vector with a match at/above ``threshold``.
    """
    bucket_udf = _int8_bucket_udf(int_lsh_planes(dim, n_bits, n_tables, span))

    def hashed(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("vec_id"),
            F.posexplode(bucket_udf(F.col(vec_col))).alias(
                "table_id", "bucket"
            ),
        )

    cand = (
        hashed(incoming)
        .withColumnRenamed("vec_id", "in_id")
        .join(
            hashed(corpus).withColumnRenamed("vec_id", "corpus_id"),
            ["table_id", "bucket"],
        )
        .filter(F.col("in_id") != F.col("corpus_id"))
        .select("in_id", "corpus_id")
        .dropDuplicates(["in_id", "corpus_id"])
    )
    all_vecs = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).unionByName(
        incoming.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        )
    )
    unit = unit_df if unit_df is not None else unit_vectors(all_vecs)
    scored = (
        cand.join(
            unit.select(
                F.col("vec_id").alias("in_id"), F.col("u").alias("u_in")
            ),
            "in_id",
        )
        .join(
            unit.select(
                F.col("vec_id").alias("corpus_id"), F.col("u").alias("u_c")
            ),
            "corpus_id",
        )
        .select(
            "in_id",
            "corpus_id",
            dot_product_col(F.col("u_in"), F.col("u_c")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    w = Window.partitionBy("in_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("in_id").alias("vec_id"),
            F.col("corpus_id").alias("matched_vec"),
            "cosine",
        )
    )


# ---------------------------------------------------------------------------
# Hash-checked integer PCA (round-15, VERDICT r14 #9)
# ---------------------------------------------------------------------------

INT_PCA_SCALE = 4096  # 2^12 fixed-point eigenvector scale
INT_PCA_ITERS = 24


def int_pca_power(M, n_components: int = 2,
                  iters: int = INT_PCA_ITERS,
                  scale: int = INT_PCA_SCALE):
    """Deterministic INTEGER power iteration with projected deflation
    on an integer symmetric PSD matrix ``M`` (list-of-lists of Python
    ints) — the int8-family trick applied to the last float-iterative
    fit. Exact arbitrary-precision arithmetic; the DuckDB oracle
    replays every step in BIGINT/HUGEINT, so both engines land on the
    IDENTICAL integer eigenvector approximations.

    Per component: v0 = [scale]*d; each iteration computes w = M v,
    rescales to ``tdiv(w*scale, max|w|)``, then projects out the
    previously-found components with integer Gram-Schmidt
    ``w -= tdiv(dot(w,u)*u, dot(u,u))``. ``tdiv`` is division
    TRUNCATED TOWARD ZERO — DuckDB's ``//`` and Spark SQL's ``div``
    both truncate (measured: ``-7 // 2 = -3`` in DuckDB), while
    Python's ``//`` floors, so the Python side implements truncation
    explicitly (divisors here are always positive). Final sign is
    fixed so the largest-|coordinate| (lowest index on ties) is
    positive. M is PSD (n^2 * covariance), so the iterate cannot
    oscillate in sign.

    12-bit component precision bounds the direction error at ~2^-12 —
    invisible to the explained-variance audit — while keeping every
    intermediate in the oracle's BIGINT range for corpora up to
    ~20k vectors (|M| <= 2 n^2 127^2; the rescale multiply is the one
    HUGEINT step). The Spark side uses Python ints: no bound at all."""
    def tdiv(a: int, b: int) -> int:  # truncation-toward-zero, b > 0
        return a // b if a >= 0 else -((-a) // b)

    d = len(M)
    comps = []
    for _ in range(n_components):
        v = [scale] * d
        for _ in range(iters):
            w = [sum(M[i][j] * v[j] for j in range(d)) for i in range(d)]
            mx = max(abs(x) for x in w) or 1
            w = [tdiv(x * scale, mx) for x in w]
            for u in comps:
                uu = sum(a * a for a in u) or 1
                wu = sum(a * b for a, b in zip(w, u))
                w = [a - tdiv(wu * b, uu) for a, b in zip(w, u)]
            v = w
        mi = max(range(d), key=lambda i: (abs(v[i]), -i))
        if v[mi] < 0:
            v = [-x for x in v]
        comps.append(v)
    return comps


def int8_codes_col(vec_col: str = "embedding"):
    """JVM-side symmetric int8 quantization (the exact IEEE op chain
    of ``_int8_codes`` / the ilsh oracle CTE): per-vector max-abs
    scale, code = clamp(floor(x/scale + 0.5), -127, 127), zero
    vectors -> all-zero codes. Returns an array<double> of
    integer-valued doubles."""
    maxabs = F.array_max(
        F.transform(vec_col, lambda x: F.abs(x.cast("double")))
    )
    qv = F.transform(
        vec_col,
        lambda x: F.greatest(
            F.lit(-127.0),
            F.least(
                F.lit(127.0),
                F.floor(x.cast("double") / (maxabs / 127) + 0.5),
            ),
        ),
    )
    return F.when(
        maxabs == 0, F.transform(vec_col, lambda x: F.lit(0.0))
    ).otherwise(qv)


def int_pca_project(
    corpus: DataFrame,
    n_components: int = 2,
    iters: int = INT_PCA_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hash-checked PCA projection: int8-quantize the corpus, compute
    the EXACT integer scatter matrix M = n * X'X - s s' (covariance
    times n^2 — scale-free for power iteration, and integer, so no
    centering division ever happens), run ``int_pca_power`` on the
    driver, and project each quantized row onto the integer
    components — every output value is derived from exact integer
    arithmetic plus one final IEEE normalize/round, so a DuckDB
    oracle replays it bit-for-bit (``registry/llm_q.py::
    _int_pca_ctes``). The float sibling (``pca_power_project``) keeps
    the numpy-pinned exact-eigendecomposition quality story; this
    variant is the reproducibility story.

    Distributed shape is IDENTICAL to the float version: one
    mapInPandas scan reduces each partition to (count, sum, Gram) —
    int64 numpy accumulation, exact — the driver solves the tiny
    d x d problem in Python ints, components broadcast back as array
    literals, projection is a JVM HOF dot (integer-valued doubles,
    |dot| <= 64 * 127 * 4096 ~ 2^25, exactly representable). Two
    scans + an O(partitions * d^2) collect at any corpus size.

    Output: vec_id; per component the raw integer dot ``ipc_raw{i}``
    (BIGINT — the hash anchor) and ``ipc{i}`` = raw / (127 * |v_i|),
    the unit-direction projection in code units, rounded 9dp."""
    import pandas as pd  # local: keep module import light
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    probe_row = corpus.select(F.size(vec_col).alias("d")).first()
    if probe_row is None:
        return corpus.select(
            F.col(id_col).alias("vec_id"),
            *[
                c
                for i in range(n_components)
                for c in (
                    F.lit(None).cast("long").alias(f"ipc_raw{i + 1}"),
                    F.lit(None).cast("double").alias(f"ipc{i + 1}"),
                )
            ],
        )
    d_probe = probe_row["d"]
    stats_schema = StructType(
        [
            StructField("cnt", LongType()),
            StructField("s", ArrayType(LongType())),
            StructField("g", ArrayType(LongType())),
        ]
    )

    def partial_stats(batches):
        cnt, s, g = 0, None, None
        for pdf in batches:
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Q = _int8_codes(X).astype(np.int64)
            cnt += len(Q)
            s = Q.sum(0) if s is None else s + Q.sum(0)
            g = Q.T @ Q if g is None else g + Q.T @ Q
        if cnt:
            yield pd.DataFrame(
                {"cnt": [cnt], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    rows = corpus.select(vec_col).mapInPandas(
        partial_stats, stats_schema
    ).collect()  # bounded: one row per partition
    if not rows:
        return int_pca_project(
            corpus.limit(0), n_components, iters, id_col, vec_col
        )
    n = sum(int(r["cnt"]) for r in rows)
    s = [sum(int(r["s"][j]) for r in rows) for j in range(d_probe)]
    G = [
        [
            sum(int(r["g"][i * d_probe + j]) for r in rows)
            for j in range(d_probe)
        ]
        for i in range(d_probe)
    ]
    M = [
        [n * G[i][j] - s[i] * s[j] for j in range(d_probe)]
        for i in range(d_probe)
    ]
    comps = int_pca_power(M, n_components=n_components, iters=iters)

    out = corpus.select(
        F.col(id_col).alias("vec_id"),
        int8_codes_col(vec_col).alias("_q"),
    )
    cols = []
    for i, v in enumerate(comps):
        norm = float(sum(x * x for x in v)) ** 0.5 or 1.0
        raw = dot_product_col(
            F.col("_q"), F.array(*[F.lit(float(x)) for x in v])
        )
        cols.append(raw.cast("long").alias(f"ipc_raw{i + 1}"))
        cols.append(
            F.round(raw / F.lit(127.0 * norm), 9).alias(f"ipc{i + 1}")
        )
    return out.select("vec_id", *cols)

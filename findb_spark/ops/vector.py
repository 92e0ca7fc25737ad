"""Vector-similarity operators over ``embeddings`` (64-d float arrays):
brute-force cosine top-k (the exactness baseline) and LSH-bucketed ANN
(the scale path). BASELINE.json LLM-pipeline mandate.

Numeric determinism: dot products and norms are fixed-point integer sums
(per-element ``floor(x*y*1e12 + 0.5)`` — identical IEEE-754 ops on any
engine, then exact integer accumulation), so cosine values are
bit-identical between Spark and the DuckDB oracle regardless of
partitioning. Each fixed-point expression is parsed from one SQL string
and unrolled so it stays inside codegen; the PQ corpus encode and the
driver-side ADC tables run the same IEEE ops in numpy.

Scale:
- brute-force top-k against a bounded query set is a broadcast
  nested-loop: the embedding table streams once, queries live in memory —
  the right plan up to ~10^3 queries x any corpus size.
- `lsh_buckets` (random-hyperplane signs) turns ANN into an equi-join on
  bucket id: corpus bucketed once (one shuffle), each query probes one
  bucket. Plane matrix is hash-derived (deterministic, no RNG), so bucket
  assignment is reproducible everywhere. An IVF variant (k-means
  centroids) would slot into the same probe-join shape.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window, functions as F

from findb_spark.functions.hashing import hash48
from findb_spark.session import local_relation_df

DIM = 64
FXP_SCALE = 10**12
PROJ_SCALE = 10**9
N_PLANES = 6


def fxp_dot_sql(a: str, b: str, dim: int = DIM) -> str:
    """DuckDB twin of :func:`fxp_dot_expr`."""
    return (
        f"CAST(list_sum(list_transform(range(1, {dim + 1}), i -> "
        f"CAST(FLOOR(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * {FXP_SCALE}.0 + 0.5)"
        f" AS BIGINT))) AS BIGINT)"
    )


def _fxp_sum_spark_sql(a: str, b: str, dim: int) -> str:
    """Spark SQL text of the exact fixed-point dot of columns ``a`` and
    ``b``: per element ``floor(x*y*FXP_SCALE + 0.5)`` (BIGINT), summed
    as integers."""
    terms = [
        f"FLOOR((CAST(element_at({a}, {i}) AS DOUBLE) * "
        f"CAST(element_at({b}, {i}) AS DOUBLE)) * {FXP_SCALE} + 0.5D)"
        for i in range(1, dim + 1)
    ]
    return "CAST((" + " + ".join(terms) + ") AS BIGINT)"


def fxp_dot_expr(a: str, b: str, dim: int = DIM) -> Column:
    """Deterministic fixed-point dot product (scaled by FXP_SCALE, exact
    integer sum) of two float-array columns given by NAME, over their
    first ``dim`` elements.

    Unrolled over the fixed dimension so it stays inside whole-stage
    codegen (higher-order array functions run interpreted), and parsed
    server-side from one SQL string: one py4j call instead of ~400."""
    return F.expr(_fxp_sum_spark_sql(a, b, dim))


def norm_expr(v: str, dim: int = DIM) -> Column:
    """Fixed-point L2 norm of column ``v``: sqrt of the exact self-dot
    over FXP_SCALE — the same float ops as the norm terms inside
    :func:`cosine_expr`, so precomputing it per row (not per pair) is
    bit-identical."""
    return F.expr(
        f"SQRT(CAST({_fxp_sum_spark_sql(v, v, dim)} AS DOUBLE) / {FXP_SCALE})"
    )


def cosine_expr(a: str, b: str, dim: int = DIM) -> Column:
    """Fixed-point cosine of two float-array columns given by NAME: the
    dot over the product of the norms, bit-identical cross-engine."""
    return (fxp_dot_expr(a, b, dim).cast("double") / FXP_SCALE) / (
        F.sqrt(fxp_dot_expr(a, a, dim).cast("double") / FXP_SCALE)
        * F.sqrt(fxp_dot_expr(b, b, dim).cast("double") / FXP_SCALE)
    )


def cosine_sql(a: str, b: str, dim: int = DIM) -> str:
    return (
        f"({fxp_dot_sql(a, b, dim)} / {FXP_SCALE}.0) / "
        f"(sqrt({fxp_dot_sql(a, a, dim)} / {FXP_SCALE}.0) * "
        f"sqrt({fxp_dot_sql(b, b, dim)} / {FXP_SCALE}.0))"
    )


def _cos_rank(j: DataFrame, k: int) -> DataFrame:
    """Per query, the ``k`` corpus rows of highest cosine (ties to the
    smaller vec_id) from (query_id, vec_id, embedding, _nrm, qv, _qnrm)
    pairs; only the cross-pair dot product is evaluated per pair."""
    sim = (fxp_dot_expr("embedding", "qv").cast("double") / FXP_SCALE) / (
        F.col("_nrm") * F.col("_qnrm")
    )
    scored = j.select("query_id", "vec_id", sim.alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
    return scored.select(
        "query_id", "vec_id", "cos_sim", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= k)


def cosine_topk(
    emb: DataFrame, query: DataFrame, k: int = 10, exclude_self: bool = True
) -> DataFrame:
    """Exact top-k neighbors of each query vector (broadcast NL join +
    per-query ranking window). ``query``: (query_id, qv array<float>).

    Norms are computed once per corpus row / query row before the join;
    only the cross-pair dot product is evaluated per pair.  The corpus
    scan keeps its natural split: widening it cost more per-task CPU than
    it saved in wall time at bench scale (OPTIMIZATION_r13.md)."""
    corpus = emb.withColumn("_nrm", norm_expr("embedding"))
    q = query.withColumn("_qnrm", norm_expr("qv"))
    j = corpus.crossJoin(F.broadcast(q))
    if exclude_self:
        j = j.where(F.col("vec_id") != F.col("query_id"))
    return _cos_rank(j, k)


def near_dup_pairs(
    emb: DataFrame, threshold: float = 0.4, block_size: int = 256
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — exact all-pairs semantics via
    distributed block-nested-loop:

    1. vectors are grouped into blocks of `block_size` (one shuffle);
    2. block pairs (blk1 <= blk2) join — m^2/2 *block* rows instead of
       n^2/2 vector rows, so no per-pair array shipping;
    3. each block pair computes its dot-product tile as one Arrow-batched
       numpy operation (exact fixed-point: floor(x*y*1e12+0.5) int64 sums,
       bit-identical to the SQL oracle's per-element formula).

    All-pairs stays O(n^2) by definition — at corpus scale use
    `lsh_buckets` blocking (or MinHash over shingles for text) to bound the
    candidate set; this operator is the exactness baseline and the
    per-tile kernel both."""
    b = emb.select(
        F.floor(F.col("vec_id") / block_size).cast("int").alias("blk"),
        "vec_id",
        "embedding",
    )
    blocks = b.groupBy("blk").agg(
        F.sort_array(F.collect_list(F.struct("vec_id", "embedding"))).alias("rows")
    )
    tile = (
        blocks.alias("x")
        .join(blocks.alias("y"), F.col("x.blk") <= F.col("y.blk"))
        .select(
            F.col("x.blk").alias("blk1"),
            F.col("x.rows").alias("rows1"),
            F.col("y.blk").alias("blk2"),
            F.col("y.rows").alias("rows2"),
        )
    )

    def compute(pdfs):
        import numpy as np
        import pandas as pd

        scale = float(FXP_SCALE)

        def unpack(rows):
            ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
            mat = np.vstack([r["embedding"] for r in rows]).astype(np.float64)
            return ids, mat

        for pdf in pdfs:
            out_v1, out_v2, out_cos = [], [], []
            for rows1, rows2, same in zip(
                pdf["rows1"], pdf["rows2"], (pdf["blk1"] == pdf["blk2"])
            ):
                ids1, m1 = unpack(rows1)
                ids2, m2 = unpack(rows2)
                n1 = np.sqrt(
                    np.floor(m1 * m1 * scale + 0.5).astype(np.int64).sum(1) / scale
                )
                n2 = np.sqrt(
                    np.floor(m2 * m2 * scale + 0.5).astype(np.int64).sum(1) / scale
                )
                # whole tile in one 3-D broadcast (b x b x dim ~ 33 MB at 256):
                # identical per-element fixed-point ops as the row loop / SQL
                dots = (
                    np.floor(m1[:, None, :] * m2[None, :, :] * scale + 0.5)
                    .astype(np.int64)
                    .sum(2)
                    / scale
                )
                cos = dots / np.outer(n1, n2)
                mask = cos >= threshold
                if same:
                    mask &= ids2[None, :] > ids1[:, None]
                ii, jj = np.nonzero(mask)
                if len(ii):
                    out_v1.extend(ids1[ii].tolist())
                    out_v2.extend(ids2[jj].tolist())
                    out_cos.extend(cos[ii, jj].tolist())
            yield pd.DataFrame({"v1": out_v1, "v2": out_v2, "cos_sim": out_cos})

    return tile.mapInPandas(compute, schema="v1 BIGINT, v2 BIGINT, cos_sim DOUBLE")


def plane_matrix(n_planes: int = N_PLANES, dim: int = DIM) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix derived from md5 — reproducible in
    SQL-free form by embedding the literals into both engines' plans."""
    return [
        [
            1 if int(hashlib.md5(f"plane{j}_{d}".encode()).hexdigest()[:12], 16) % 2 == 0 else -1
            for d in range(dim)
        ]
        for j in range(n_planes)
    ]


def lsh_buckets(emb: DataFrame, planes: list[list[int]] | None = None) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector: bit j = sign of the
    fixed-point projection onto plane j.

    Unlike :func:`fxp_dot_expr` this stays an ``aggregate(zip_with(...))``
    form: the unrolled inline form (6 planes x 64 terms) exceeds janino's
    method-size limit, so codegen fails and execution falls back to
    interpreted anyway, slower than this fold of cheap +-1 multiplies."""
    planes = planes or plane_matrix()
    bucket = None
    for j, m in enumerate(planes):
        marr = F.array(*[F.lit(w) for w in m])
        proj = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                marr,
                lambda x, w: F.floor(x.cast("double") * w.cast("double") * PROJ_SCALE + F.lit(0.5)),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        bit = F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return emb.withColumn("bucket", bucket.cast("bigint"))


IVF_K = 64


def ivf_centroids(emb: DataFrame, k: int = IVF_K) -> DataFrame:
    """Fixed-size IVF codebook: the ``k`` corpus vectors minimal under a
    deterministic hash order (hash48 of vec_id, vec_id tiebreak) — an
    RNG-free uniform sample standing in for trained k-means centroids.

    ``k`` is independent of corpus size, so the codebook broadcast stays
    tiny and assignment is O(n*k) at any scale (a stride-based pick would
    grow the codebook O(n) and assignment O(n^2/stride)). Selection
    compiles to TakeOrderedAndProject — per-partition top-k then a driver
    merge of k rows, not a global sort shuffle."""
    hk = hash48(F.col("vec_id").cast("string"))
    return (
        emb.select(
            hk.alias("_hk"),
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cvec"),
        )
        .orderBy("_hk", "cent_id")
        .limit(k)
        .select("cent_id", "cvec")
    )


def ivf_assign(emb: DataFrame, n_cent: int = IVF_K) -> DataFrame:
    """IVF coarse quantization with the fixed-``n_cent`` deterministic
    codebook: :func:`ivf_centroids` + :func:`assign_to_centroids` (the
    assignment plan — broadcast codebook, one corpus scan, smallest-id
    tiebreak — lives in ONE place). Returns (vec_id, embedding, cluster)."""
    return assign_to_centroids(emb, ivf_centroids(emb, n_cent))


MEAN_SCALE = 10**9


def assign_to_centroids(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign every vector to its max-cosine centroid (broadcast codebook,
    one corpus scan, no shuffle). ``cents``: (cent_id, cvec). Ties break
    to the smallest centroid id. Returns (vec_id, embedding, cluster)."""
    j = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cent_id",
        cosine_expr("embedding", "cvec").alias("_cos"),
    )
    return (
        j.groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("cent_id"),
                F.struct(F.col("_cos"), (-F.col("cent_id")).alias("_nc")),
            ).alias("cluster"),
            F.first("embedding").alias("embedding"),
        )
        .select("vec_id", "embedding", "cluster")
    )


def kmeans_refine_centroids(assigned: DataFrame) -> DataFrame:
    """One Lloyd update: per-cluster element-wise mean of the member
    vectors, computed as an **exact fixed-point sum** (per element
    ``floor(x*1e9+0.5)`` int64, summed exactly, divided once) so the
    refined centroids are bit-identical doubles on any engine and any
    partitioning — a raw float mean would vary with accumulation order
    and break oracle parity.

    Plan shape: posexplode (pure map) -> ONE hash aggregation on
    (cluster, pos) with map-side combine -> tiny (K x dim rows) regroup
    into arrays. Nothing grows with corpus size except the first
    aggregation's input, which combines map-side. Returns
    (cent_id, cvec: array<double>). Empty clusters drop out (standard
    Lloyd behavior)."""
    elems = assigned.select(
        "cluster", F.posexplode("embedding").alias("pos", "v")
    )
    means = elems.groupBy("cluster", "pos").agg(
        (
            F.sum(
                F.floor(F.col("v").cast("double") * MEAN_SCALE + F.lit(0.5))
            ).cast("double")
            / MEAN_SCALE
            / F.count("*")
        ).alias("cv")
    )
    return (
        means.groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s.getField("cv"),
            ).alias("cvec")
        )
        .select(F.col("cluster").alias("cent_id"), "cvec")
    )


def kmeans_cluster_profile(emb: DataFrame, n_cent: int = IVF_K) -> DataFrame:
    """One full Lloyd iteration over the IVF codebook (deterministic
    hash-sample init -> assign -> fixed-point mean update -> re-assign),
    profiled per refined cluster: member count + mean cosine to the
    refined centroid (fixed-point mean, oracle-exact).

    This is the training loop of a real IVF/k-means index expressed as
    pure DataFrame algebra — each iteration is one broadcast assignment
    pass + one map-side-combined aggregation, so iterations cost O(n*K)
    with no shuffle proportional to pair counts. More iterations = loop
    this function's internals (see tests for the quality ladder)."""
    cents0 = ivf_centroids(emb, n_cent)
    asg1 = assign_to_centroids(emb, cents0)
    cents1 = kmeans_refine_centroids(asg1)
    asg2 = emb.crossJoin(F.broadcast(cents1)).select(
        "vec_id",
        "cent_id",
        cosine_expr("embedding", "cvec").alias("_cos"),
    )
    best = asg2.groupBy("vec_id").agg(
        F.max_by(
            F.struct(F.col("cent_id"), F.col("_cos")),
            F.struct(F.col("_cos"), (-F.col("cent_id")).alias("_nc")),
        ).alias("b")
    )
    per_vec = best.select(
        F.col("b.cent_id").alias("cluster"), F.col("b._cos").alias("cos")
    )
    return per_vec.groupBy("cluster").agg(
        F.count("*").alias("n_vecs"),
        (
            F.sum(F.floor(F.col("cos") * MEAN_SCALE + F.lit(0.5))).cast("double")
            / MEAN_SCALE
            / F.count("*")
        ).alias("avg_cos"),
    )


def ivf_topk(
    emb: DataFrame, k: int = 5, n_cent: int = IVF_K, nprobe: int = 1
) -> DataFrame:
    """IVF-style ANN top-k: probe the query's ``nprobe`` best coarse
    clusters, exact cosine rerank inside them. Queries are the vectors with
    vec_id < 3 (same convention as the other search specs). Complements
    `ann_lsh_topk`: same probe-join shape, codebook partitioning instead of
    hyperplane bucketing.

    ``nprobe`` is the standard recall/cost dial: candidates grow linearly
    with probes while the probe list itself stays a broadcast (queries x
    nprobe rows). nprobe=1 degenerates to the assigned-cluster-only probe
    (the oracle-checked form); nprobe=n_cent probes every cluster and is
    exactly brute force (recall 1.0 — tests pin the monotone ladder and
    the full-probe anchor). On unclustered data recall tracks the probed
    fraction ~nprobe/K; buying more recall per probe requires a trained
    (k-means) codebook, which drops into `ivf_centroids`' slot without
    changing this plan shape."""
    # build the codebook once and share it between assignment and the
    # probe list (two ivf_centroids calls would scan the corpus twice for
    # the same 64 rows)
    cents = ivf_centroids(emb, n_cent)
    assigned = assign_to_centroids(emb, cents).withColumn(
        "_nrm", norm_expr("embedding")
    )
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    ).withColumn("_qnrm", norm_expr("qv"))
    # per-query probe list: top-nprobe centroids by cosine (ties -> smaller
    # centroid id, matching ivf_assign's tiebreak so nprobe=1 == assignment)
    pw = Window.partitionBy("query_id").orderBy(F.desc("_ccos"), "cent_id")
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qv",
            "_qnrm",
            "cent_id",
            cosine_expr("qv", "cvec").alias("_ccos"),
        )
        .withColumn("_pr", F.row_number().over(pw))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", "qv", "_qnrm", F.col("cent_id").alias("qcluster"))
    )
    j = assigned.join(
        F.broadcast(probes),
        (F.col("cluster") == F.col("qcluster")) & (F.col("vec_id") != F.col("query_id")),
    )
    return _cos_rank(j, k)


def semantic_dedup_pairs(
    emb: DataFrame, threshold: float = 0.4, n_cent: int = IVF_K
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: coarse-quantize every
    vector to its IVF cluster (:func:`ivf_assign` — broadcast codebook, one
    corpus scan), then compare pairs **within a cluster only** (equi-join
    on the cluster id) and keep cosine >= ``threshold``.

    This is the pattern of Abbas et al., "SemDeDup" (arXiv:2303.09540):
    k-means the embedding space, then dedup inside each cluster — the
    cross-cluster pairs an exact all-pairs scan would also consider are
    exactly the distant pairs that cannot be semantic duplicates. Versus
    `near_dup_pairs` (exact O(n^2) baseline) the candidate set shrinks to
    O(sum c_i^2) ~ n^2/K for balanced clusters; at corpus scale K grows
    with n (K ~ n/target_cluster_size), holding per-cluster work constant
    while the join stays a plain hash shuffle on the cluster id.

    Output: (cluster, v1, v2, cos_sim), v1 < v2. Recall vs the exact scan
    = the fraction of true near-dup pairs co-assigned by the codebook
    (tests pin both containment and the recall floor)."""
    from pyspark.storagelevel import StorageLevel

    # both sides of the within-cluster self-join read `assigned`; without a
    # persist the whole O(n*K) codebook-assignment subtree runs twice.
    #
    # The explicit repartition on the cluster key: the self-join FANS OUT
    # (n rows -> ~n^2/K candidate pairs, each a 64-term fixed-point dot),
    # a CPU cost invisible to AQE's byte-based coalescing, which would
    # collapse the scoring stage to one task.  A user-specified partition
    # count is never coalesced; it is the session's shuffle grain.  One
    # identical-content mega-cluster is a single join key no repartition
    # can split (measured in SCALE_SEMSKEW_r14.json).  With AQE auto mode
    # spark.sql.shuffle.partitions is not an integer: fall back to
    # defaultParallelism rather than raising at plan-build time.
    try:
        n_shuf = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        n_shuf = emb.sparkSession.sparkContext.defaultParallelism
    assigned = (
        ivf_assign(emb, n_cent)
        .withColumn("_nrm", norm_expr("embedding"))
        .repartition(n_shuf, F.col("cluster"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    x = assigned.select(
        F.col("cluster"),
        F.col("vec_id").alias("v1"),
        F.col("embedding").alias("e1"),
        F.col("_nrm").alias("n1"),
    )
    y = assigned.select(
        F.col("cluster"),
        F.col("vec_id").alias("v2"),
        F.col("embedding").alias("e2"),
        F.col("_nrm").alias("n2"),
    )
    sim = (fxp_dot_expr("e1", "e2").cast("double") / FXP_SCALE) / (
        F.col("n1") * F.col("n2")
    )
    return (
        x.join(y, on="cluster")
        .where(F.col("v1") < F.col("v2"))
        .select("cluster", "v1", "v2", sim.alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def ann_lsh_topk(
    emb: DataFrame, query: DataFrame, k: int = 5, multiprobe: bool = False
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket, rank by exact
    cosine inside it. ``query``: (query_id, qv) — gets bucketed with the
    same plane matrix.

    ``multiprobe`` additionally probes every bucket at hamming distance 1
    (one flipped hyperplane bit) — the standard recall fix for vectors
    landing near a plane boundary; candidate cost grows ~(n_planes+1)x the
    single-bucket density while the probe list stays broadcast."""
    planes = plane_matrix()
    corpus = lsh_buckets(emb, planes).withColumn("_nrm", norm_expr("embedding"))
    qb = (
        lsh_buckets(query.select(F.col("query_id"), F.col("qv").alias("embedding")), planes)
        .select("query_id", F.col("embedding").alias("qv"), F.col("bucket").alias("qbucket"))
        .withColumn("_qnrm", norm_expr("qv"))
    )
    if multiprobe:
        flips = F.array(
            F.col("qbucket"),
            *[
                F.col("qbucket").bitwiseXOR(F.lit(1 << j)).cast("bigint")
                for j in range(len(planes))
            ],
        )
        qb = qb.select(
            "query_id", "qv", "_qnrm", F.explode(flips).alias("qbucket")
        )
    j = corpus.join(
        F.broadcast(qb),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")),
    )
    return _cos_rank(j, k)


# ---------------------------------------------------------------------------
# Product quantization (Jegou, Douze, Schmid — "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011).  64-d vectors split into PQ_M
# subspaces of PQ_SUBDIM dims; each subspace quantized against a PQ_K-entry
# codebook, so a vector compresses to PQ_M small codes (8 bytes here vs 256
# raw — the memory ratio that lets a 100 TB corpus's index fit executor RAM).
# Search uses ADC (asymmetric distance computation): the query stays full
# precision, per-subspace distances to every codeword are precomputed once
# into a tiny lookup table, and each candidate's distance is PQ_M table
# lookups + adds — no float math per candidate.
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_K = 64  # codewords per subspace (production PQ uses 256; 64 keeps the
#            oracle's cross join small while the plan shape is identical)
#: hard cap on the driver-collected PQ training sample: the 20% hash gate
#: alone scales with the corpus (measured: 51k collected vectors = 70 s of
#: py4j at a 256k-vector corpus — the whole 128x scale-smoke blowup), while
#: codebook quality saturates at FAISS-scale 10^4-10^5 training points.
#: The cap composes as a deterministic hash-order LIMIT (ORDER BY h,
#: vec_id), mirrored verbatim in the DuckDB oracle; it binds only above
#: ~82k corpus vectors, so certified outputs at every test SF are
#: unchanged.
PQ_TRAIN_CAP = 1 << 14


def fxp_l2_sub(a: Column, sw: Column, sub: int) -> Column:
    """Deterministic fixed-point squared-L2 distance between subvector
    ``sub`` of the full array ``a`` and the PQ_SUBDIM-dim codeword ``sw``:
    per element ``floor((ai-bi)^2 * FXP_SCALE + 0.5)`` (exact IEEE double
    ops on both engines), exact integer sum.

    This Column form is the executable SPECIFICATION of the PQ distance
    arithmetic: the numpy kernels (:func:`pq_encode`, :func:`_luts_driver`)
    must produce bit-equal values — tests/test_llm_ops.py pins both
    against this formulation."""
    base = sub * PQ_SUBDIM
    terms = []
    for i in range(1, PQ_SUBDIM + 1):
        d = (
            F.element_at(a, base + i).cast("double")
            - F.element_at(sw, i).cast("double")
        )
        terms.append(F.floor(d * d * FXP_SCALE + F.lit(0.5)))
    while len(terms) > 1:
        terms = [
            terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0].cast("bigint")


def _unit_rows(v):
    """Unit-normalize each row of a float64 matrix with the fixed-point
    norm: ``sqrt(sum(floor(x*x*FXP_SCALE + 0.5)) / FXP_SCALE)`` with the
    floor terms summed in int64 (exact, order-free), then one IEEE divide
    per element — the op sequence the DuckDB oracle runs.  PQ quantizes
    NORMALIZED vectors so that squared L2 ranks like cosine
    (||a-b||² = 2 - 2·cos on unit vectors)."""
    import numpy as np

    sq = np.floor(v * v * float(FXP_SCALE) + 0.5).astype(np.int64).sum(axis=1)
    return v / np.sqrt(sq.astype(np.float64) / float(FXP_SCALE))[:, None]


def _fxp_l2(d, axis: int):
    """numpy twin of :func:`fxp_l2_sub` over difference tensor ``d``:
    the int64 sum along ``axis`` of ``floor(d*d*FXP_SCALE + 0.5)``."""
    import numpy as np

    return np.floor(d * d * float(FXP_SCALE) + 0.5).astype(np.int64).sum(axis=axis)


def _encode_rows(v, cb):
    """PQ codes (n, PQ_M) in 1..PQ_K of unit rows ``v`` against codebook
    ``cb`` (PQ_M, PQ_K, PQ_SUBDIM): per subspace the fixed-point-nearest
    codeword, ties to the smallest code (min of the composite
    ``dist*128 + code``; codes < 128 keep the order).  Rows go in blocks
    of 256 so every (rows, K, SUBDIM) intermediate stays cache-resident;
    block boundaries do not change any per-row sum."""
    import numpy as np

    n = len(v)
    codes = np.empty((n, PQ_M), dtype=np.int32)
    kcode = np.arange(cb.shape[1], dtype=np.int64) + 1
    for m in range(PQ_M):
        seg = v[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
        for s in range(0, n, 256):
            comp = _fxp_l2(seg[s : s + 256, None, :] - cb[m][None], 2) * 128 + kcode
            codes[s : s + 256, m] = comp.min(axis=1) % 128
    return codes


def _cb_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField("code", T.IntegerType(), False)]
        + [
            T.StructField(f"sw{m}", T.ArrayType(T.DoubleType()), False)
            for m in range(PQ_M)
        ]
    )


def _cb_out(cb) -> list[dict]:
    """Codebook tensor (PQ_M, k, PQ_SUBDIM) -> wide rows with dense codes
    1..k and per-subspace codewords ``sw0..sw{PQ_M-1}``."""
    return [
        {
            "code": c + 1,
            **{f"sw{m}": [float(x) for x in cb[m, c]] for m in range(PQ_M)},
        }
        for c in range(cb.shape[1])
    ]


def pq_codebook(emb: DataFrame, k: int = PQ_K) -> DataFrame:
    """Deterministic PQ init codebook in WIDE form: the ``k`` normalized
    corpus vectors minimal under hash order (same RNG-free sampling
    contract as :func:`ivf_centroids`), re-indexed to dense codes 1..k and
    split into per-subspace codewords ``sw0..sw{PQ_M-1}`` so ADC tables
    are array-indexable.  k is corpus-size-independent — the broadcast
    stays tiny at any scale.

    The distributed half is ONE TakeOrderedAndProject job (the k winners
    under the cheap hash key); normalization of those k rows runs
    driver-side (:func:`_unit_rows`)."""
    import numpy as np

    hk = hash48(F.col("vec_id").cast("string"))
    rows = (
        emb.select(hk.alias("_hk"), "vec_id", "embedding")
        .orderBy("_hk", "vec_id")
        .limit(k)
        .collect()
    )
    rows.sort(key=lambda r: (r["_hk"], r["vec_id"]))
    if not rows:
        return local_relation_df(emb.sparkSession, [], _cb_schema())
    cwv = _unit_rows(np.array([list(r["embedding"]) for r in rows], dtype=np.float64))
    cb = cwv.reshape(len(rows), PQ_M, PQ_SUBDIM).transpose(1, 0, 2)
    # LocalRelation, not a Python-RDD plan: see session.local_relation_df
    return local_relation_df(emb.sparkSession, _cb_out(cb), _cb_schema())


def _cb_lists(cbw: DataFrame | list) -> list[list[list[float]]]:
    """Collect a codebook relation (bounded at PQ_K rows by construction)
    into per-subspace codeword lists ordered by dense code 1..k —
    ``result[m][code-1]`` is subspace ``m``'s codeword."""
    rows = cbw.collect() if isinstance(cbw, DataFrame) else list(cbw)
    rows.sort(key=lambda r: r["code"])
    return [[list(r[f"sw{m}"]) for r in rows] for m in range(PQ_M)]


def _luts_driver(
    q_rows: list, cw: list[list[list[float]]]
) -> list[tuple]:
    """The ADC tables, computed driver-side: per RAW query row
    (vec_id, embedding), unit-normalized by :func:`_unit_rows`, the PQ_M
    tables — each the fixed-point distances (:func:`_fxp_l2`) to the k
    codewords, ordered by code 1..k (the order the scoring
    ``element_at(l{m}, c{m})`` lookups assume).  Inputs are bounded (a
    handful of queries x PQ_M x PQ_K codewords) and entries are pure
    int64, so the literal luts relation carries exact values."""
    import numpy as np

    cb = np.array(cw, dtype=np.float64)  # (PQ_M, PQ_K, PQ_SUBDIM)
    q_rows = sorted(q_rows, key=lambda r: r["vec_id"])
    if not q_rows:
        return []
    v = _unit_rows(
        np.array([list(r["embedding"]) for r in q_rows], dtype=np.float64)
    )
    out = []
    for r, qv in zip(q_rows, v):
        luts = []
        for m in range(PQ_M):
            seg = qv[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
            luts.append([int(x) for x in _fxp_l2(seg[None, :] - cb[m], 1)])
        out.append((int(r["vec_id"]), *luts))
    return out


def _luts(spark, q_rows: list, cw: list[list[list[float]]]) -> DataFrame:
    """:func:`_luts_driver` as a LocalRelation (query_id, l0..l{PQ_M-1})."""
    return local_relation_df(
        spark,
        _luts_driver(q_rows, cw),
        "query_id bigint, " + ", ".join(f"l{m} array<bigint>" for m in range(PQ_M)),
    )


def pq_encode(emb: DataFrame, cbw: DataFrame | list) -> DataFrame:
    """Quantize every RAW corpus vector (vec_id, embedding): unit-normalize
    (:func:`_unit_rows`), then per subspace the code of the L2-nearest
    codeword (:func:`_encode_rows`).  Returns (vec_id, c0..c{PQ_M-1}).

    One narrow scan, numpy over Arrow batches (``mapInPandas``), zero
    shuffles of the corpus: encode streams at scan speed and writes one
    row per vector.  np.floor/multiply are the IEEE-754 double ops the
    JVM and DuckDB execute, so codes are bit-equal to the
    :func:`fxp_l2_sub` specification (pinned by test)."""
    import numpy as np
    import pandas as pd

    cb = np.array(_cb_lists(cbw), dtype=np.float64)  # (PQ_M, PQ_K, PQ_SUBDIM)
    out_schema = "vec_id bigint, " + ", ".join(f"c{m} int" for m in range(PQ_M))

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["embedding"]])
            codes = _encode_rows(_unit_rows(v), cb)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    **{f"c{m}": codes[:, m] for m in range(PQ_M)},
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(encode, schema=out_schema)


def pq_train(emb: DataFrame, cbw: DataFrame | list) -> DataFrame:
    """One per-subspace Lloyd refinement of the PQ codebook over RAW
    embeddings: assign every sampled subvector to its nearest codeword,
    replace each codeword with the exact fixed-point mean of its members
    (empty codewords keep their init value, so codes stay DENSE 1..k and
    ADC tables stay indexable).

    Training runs DRIVER-SIDE in numpy over a bounded sample (the FAISS
    split: only the corpus passes — encode, ADC scoring — are
    distributed).  The sample is a deterministic 20% hash gate capped by
    a hash-order LIMIT of PQ_TRAIN_CAP rows, both mirrored in the DuckDB
    oracle; it arrives over the Arrow channel (``toPandas``) and is
    normalized and assigned with the corpus kernels (:func:`_unit_rows`,
    :func:`_encode_rows`).  Means are ``floor(v*MEAN_SCALE+0.5)`` summed
    in int64, then ``(sum/MEAN_SCALE)/count`` in IEEE doubles — the op
    sequence of the oracle's ``mu{m}`` CTEs (queries/vector_queries.py).
    Iterating = re-calling this function; tests pin the recall gain."""
    import numpy as np

    cb = np.array(_cb_lists(cbw), dtype=np.float64)  # (M, K, SUBDIM)
    hk = hash48(F.col("vec_id").cast("string"))
    sample_pd = (
        emb.where(hk % 5 < 1)
        .orderBy(hk, "vec_id")
        .limit(PQ_TRAIN_CAP)
        .select("embedding")
        .toPandas()
    )
    new_cb = cb.copy()
    if len(sample_pd):
        v = _unit_rows(
            np.array([np.asarray(x, dtype=np.float64) for x in sample_pd["embedding"]])
        )
        assign = _encode_rows(v, cb) - 1  # (n, M) 0-based code index
        vs = np.floor(v * float(MEAN_SCALE) + 0.5).astype(np.int64)  # (n, DIM)
        for m in range(PQ_M):
            seg = vs[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
            for c in range(cb.shape[1]):
                mask = assign[:, m] == c
                cnt = int(mask.sum())
                if cnt:
                    s = seg[mask].sum(axis=0, dtype=np.int64)
                    new_cb[m, c] = s.astype(np.float64) / float(MEAN_SCALE) / cnt
    return local_relation_df(emb.sparkSession, _cb_out(new_cb), _cb_schema())


def _pq_codebook_rows(emb: DataFrame, train: bool) -> list:
    """The init codebook, optionally refined by one :func:`pq_train`
    round, collected: PQ_K rows by construction.  As lazy plans their
    corpus-scan subtrees would be re-executed by every consumer."""
    cb_rows = pq_codebook(emb).collect()
    return pq_train(emb, cb_rows).collect() if train else cb_rows


def _adc_topk(scored: DataFrame, k: int) -> DataFrame:
    """Score (query, candidate) rows carrying ``l{m}`` tables and ``c{m}``
    codes with PQ_M lookups + integer adds, keep each query's ``k``
    smallest ``adc_dist`` (ties to the smaller vec_id)."""
    dist = None
    for m in range(PQ_M):
        t = F.element_at(F.col(f"l{m}"), F.col(f"c{m}"))
        dist = t if dist is None else dist + t
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist"), "vec_id")
    return (
        scored.select("query_id", "vec_id", dist.alias("adc_dist"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )


def _query_rows(emb: DataFrame) -> list:
    """The standard query set (vec_id < 3), collected: a bounded,
    pushdown-filtered read of the raw query vectors."""
    return emb.where(F.col("vec_id") < 3).select("vec_id", "embedding").collect()


def pq_adc_topk(
    emb: DataFrame,
    k: int = 5,
    train: bool = True,
    codebook: list | None = None,
    q_rows: list | None = None,
) -> DataFrame:
    """PQ-ADC approximate top-k for the standard query set (vec_id < 3).

    Plan: train the codebook (one Lloyd round per subspace); encode the
    corpus (PQ_M small ints per vector); per query, the PQ_M x PQ_K
    distance lookup tables, built driver-side and broadcast as a literal
    relation; score every candidate with PQ_M ``element_at`` lookups +
    integer adds — zero float math per candidate, fully inside codegen.
    ``adc_dist`` is an exact int64 (deterministic cross-engine).  At
    100 TB the scored relation reads only the 8-code table, not the
    embeddings — the I/O win PQ exists for; pair with IVF coarse
    clustering (ivf_pq_topk) to also shrink the candidate set, and
    exact-rerank the ADC shortlist where final ordering matters.

    ``codebook`` short-circuits training with already-trained rows (the
    deployed shape: the index is built once and amortizes across every
    query — see queries/vector_queries.py's per-corpus memo); ``q_rows``
    lets a composing caller (:func:`pq_search`) share one collect of the
    query set."""
    cb_rows = list(codebook) if codebook is not None else _pq_codebook_rows(emb, train)
    if q_rows is None:
        q_rows = _query_rows(emb)
    codes = pq_encode(emb, cb_rows)
    luts = _luts(emb.sparkSession, q_rows, _cb_lists(cb_rows))
    scored = codes.crossJoin(F.broadcast(luts)).where(
        F.col("vec_id") != F.col("query_id")
    )
    return _adc_topk(scored, k)


def pq_search(
    emb: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    train: bool = True,
    codebook: list | None = None,
) -> DataFrame:
    """Production PQ search shape: ADC shortlist (integer lookups over the
    compressed code table) -> exact cosine rerank of only the shortlist
    against the original vectors -> top-k.  The expensive exact math runs
    on ``shortlist`` candidates per query instead of the corpus — at 100
    TB the corpus pass touches 8-byte codes only, and the rerank is a
    (queries x shortlist)-row join back to the embedding table.  Recall =
    P(true top-k inside the ADC shortlist); tests pin the trained-codebook
    recall floor and the improvement over the untrained sample."""
    # one collect of the bounded query set feeds both the ADC tables and
    # the rerank's query side (a LocalRelation: its broadcast builds
    # driver-side, no second scan); array<float> values round-trip exactly
    q_rows = _query_rows(emb)
    sl = pq_adc_topk(
        emb, k=shortlist, train=train, codebook=codebook, q_rows=q_rows
    ).select("query_id", "vec_id")
    base = emb.select("vec_id", "embedding").withColumn(
        "_nrm", norm_expr("embedding")
    )
    q = local_relation_df(
        emb.sparkSession,
        [(r["vec_id"], r["embedding"]) for r in q_rows],
        "query_id bigint, qv array<float>",
    ).withColumn("_qnrm", norm_expr("qv"))
    # broadcast the SHORTLIST (bounded at queries x shortlist rows), not
    # the corpus: sl's size estimate is unusable (a window over a nested-
    # loop join), so without the hint Catalyst may pick the base side
    j = F.broadcast(sl).join(base, "vec_id").join(F.broadcast(q), "query_id")
    sim = (fxp_dot_expr("embedding", "qv").cast("double") / FXP_SCALE) / (
        F.col("_nrm") * F.col("_qnrm")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        j.select("query_id", "vec_id", sim.alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )


def ivf_pq_topk(emb: DataFrame, k: int = 5, train: bool = True) -> DataFrame:
    """IVF-PQ (the FAISS IVFPQ architecture, Jegou TPAMI'11 §V): coarse
    IVF clustering bounds WHICH candidates are scored (the query's
    assigned cluster only, nprobe=1), product quantization bounds WHAT is
    read per candidate (8 one-byte codes + an integer table lookup).  The
    two compressions multiply: at 100 TB the scan touches one cluster's
    code table — candidates O(n/K), bytes O(8) each, zero float ops.

    Plan: broadcast coarse codebook -> one corpus assignment pass;
    trained PQ codebook -> one corpus encode pass; the ADC tables are
    built driver-side as in :func:`pq_adc_topk`; the scored relation is
    an equi-join on the cluster id (hash shuffle of 8-code rows), never a
    cross join.  Exact-rerank the survivors where final ordering matters
    (compose with the pq_search rerank shape)."""
    spark = emb.sparkSession
    _c = ivf_centroids(emb)
    cents = local_relation_df(spark, _c.collect(), _c.schema)
    clusters = assign_to_centroids(emb, cents).select("vec_id", "cluster")

    cb_rows = _pq_codebook_rows(emb, train)
    codes = pq_encode(emb, cb_rows).join(clusters, "vec_id")
    luts = _luts(spark, _query_rows(emb), _cb_lists(cb_rows))
    qprobe = luts.join(
        clusters.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("cluster").alias("qcluster")
        ),
        "query_id",
    )
    j = codes.join(
        F.broadcast(qprobe),
        (F.col("cluster") == F.col("qcluster"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    return _adc_topk(j, k)


def cluster_silhouette(emb: DataFrame, k: int = IVF_K) -> DataFrame:
    """Per-vector centroid silhouette over the IVF coarse clustering — the
    cluster-quality dial for everything built on ``ivf_assign``
    (IVF/IVF-PQ ANN, SemDeDup semantic dedup): a(i) = cosine distance to
    the assigned centroid, b(i) = distance to the nearest OTHER centroid,
    s(i) = (b - a) / max(a, b)  (Rousseeuw 1987, centroid simplification
    — exact per row, no cross-row float accumulation, so every silhouette
    is a bit-deterministic double cross-engine).

    Scale shape: ONE corpus scan against the broadcast K-row codebook,
    one bounded groupBy per vector collecting the K (cos, centroid)
    pairs into a sorted array and reading its top two — no shuffle of
    pairwise data, no window over the n*K relation.  Low s flags vectors
    on cluster boundaries (ANN recall risk at nprobe=1) or a K that is
    too coarse/fine."""
    cents = ivf_centroids(emb, k)
    j = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        F.struct(
            cosine_expr("embedding", "cvec").alias("_c"),
            (-F.col("cent_id")).alias("_nc"),
        ).alias("sc"),
    )
    top2 = j.groupBy("vec_id").agg(
        F.slice(F.sort_array(F.collect_list("sc"), asc=False), 1, 2).alias("t")
    )
    best = F.col("t")[0]["_c"]
    second = F.col("t")[1]["_c"]
    d_a = F.lit(1.0) - best
    d_b = F.lit(1.0) - second
    sil = F.when(F.greatest(d_a, d_b) == 0, F.lit(0.0)).otherwise(
        (best - second) / F.greatest(d_a, d_b)
    )
    return top2.select(
        "vec_id",
        (-F.col("t")[0]["_nc"]).cast("bigint").alias("cluster"),
        sil.alias("sil"),
    )


def power_iteration_top_dir(
    emb: DataFrame, rounds: int = 3, vq_scale: int = 10_000, w_scale: int = 1_000_000
) -> DataFrame:
    """Dominant principal direction of the (uncentered) embedding Gram
    matrix X'X via power iteration expressed as pure DataFrame algebra —
    matrix-free: each half-step is one keyed join + one groupBy sum over
    the exploded (vec_id, dim, value) relation, never materializing X'X.

    Determinism contract (the property float linear algebra cannot give):
    components are quantized to integers at ``vq_scale`` once; the iterate
    is renormalized to max-norm ``w_scale`` after every half-step using a
    MAX aggregate (exact int) and a single int/int double divide — every
    aggregate input is an int64, so sums are exact and order-independent
    and the result is bit-identical on any IEEE-754 engine regardless of
    partitioning. Start vector = all-ones (positive), which pins the sign.

    Overflow budget: |vq| <= vq_scale, |s_q|,|w| <= w_scale, so the dim
    aggregate sums n_rows * vq_scale * w_scale <= n * 1e10 — int64-safe to
    ~9e8 rows; beyond that switch the sums to DECIMAL(38,0) (same algebra,
    ANSI mode raises rather than wraps so the boundary is loud).

    Returns (dim BIGINT, loading_ppm BIGINT — the unit-L2 loading in 1e6
    fixed point, half-up): the eigenvector estimate,
    rounded to 6dp. rounds=3 resolves the top direction when the spectral
    gap is moderate — the use case is corpus drift / dominant-axis
    profiling, not full PCA.
    """
    spark = emb.sparkSession
    ex = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "vec_id",
        F.col("pos").cast("bigint").alias("dim"),
        F.floor(F.col("v").cast("double") * vq_scale + F.lit(0.5))
        .cast("bigint")
        .alias("vq"),
    )
    ex = ex.persist()
    dims = ex.select("dim").distinct()
    w = dims.select("dim", F.lit(w_scale).cast("bigint").alias("w"))
    for _ in range(rounds):
        s = (
            ex.join(w, "dim")
            .groupBy("vec_id")
            .agg(F.sum(F.col("vq") * F.col("w")).alias("s_int"))
        )
        ms = s.agg(F.max(F.abs(F.col("s_int"))).alias("m"))
        sq = s.crossJoin(F.broadcast(ms)).select(
            "vec_id",
            F.floor(
                F.col("s_int").cast("double") / F.col("m").cast("double") * w_scale
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("s_q"),
        )
        u = (
            ex.join(sq, "vec_id")
            .groupBy("dim")
            .agg(F.sum(F.col("vq") * F.col("s_q")).alias("u_int"))
        )
        mu = u.agg(F.max(F.abs(F.col("u_int"))).alias("m"))
        w = (
            u.crossJoin(F.broadcast(mu))
            .select(
                "dim",
                F.floor(
                    F.col("u_int").cast("double") / F.col("m").cast("double") * w_scale
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("w"),
            )
            .localCheckpoint()  # 64 rows; truncates the per-round lineage
        )
    nrm = w.agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    # fixed-point ppm loading: divide and sqrt are correctly-rounded IEEE
    # ops (bit-equal cross-engine), then floor(x*1e6+0.5) is exact —
    # unlike ROUND(double, 6), whose final-ulp behavior differs per engine
    out = w.crossJoin(F.broadcast(nrm)).select(
        "dim",
        F.floor(
            F.col("w").cast("double") / F.sqrt(F.col("n2").cast("double"))
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("loading_ppm"),
    )
    ex.unpersist()
    return out

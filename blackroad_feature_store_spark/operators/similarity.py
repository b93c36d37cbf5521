"""Similarity search over embedding columns (array<float>).

Two strategies:

* **Brute-force cosine top-k** — the exactness baseline: queries ×
  corpus cross join (broadcast the query side — it is small by
  definition), dot product via zip_with + aggregate (JVM higher-order
  functions, whole-stage codegen, zero Python), window top-k per query.
  Cost O(|Q|·|C|·d): correct tool when |Q| is small even at 100 TB
  corpus scale.
* **LSH-bucketed top-k** — the scale path: a deterministic sign-bit
  bucket over the first ``nbits`` dimensions (a fixed axis-aligned
  hyperplane family — portable to the SQL oracle, unlike random
  projections). Queries only compare within their bucket: the cross
  join becomes a bucket equi-join, cutting candidates ~2^nbits-fold.
  Recall is tunable via nbits (fewer bits → bigger buckets → higher
  recall). An IVF variant is the same pattern with k-means centroid
  ids as the bucket key.

All arithmetic is double-precision left-fold, matching what a SQL
engine computes with a sequential dot product — the oracle reproduces
scores bit-for-bit (modulo the final round(6), applied identically).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from blackroad_feature_store_spark.operators.util import spread


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i as a sequential double left-fold (portable order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def lsh_bucket(vec: Column, nbits: int = 8) -> Column:
    """Deterministic sign-bit bucket: bit i = (vec[i] >= 0).

    Axis-aligned hyperplanes keep the function portable (the oracle
    writes the same CASE expressions); swap in random hyperplanes via a
    broadcast matrix for production recall tuning.
    """
    bits = [
        F.when(F.element_at(vec, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(nbits)
    ]
    return F.concat(*bits)


def random_hyperplanes(
    dim: int, nbits: int, seed: int = 7
) -> list[list[float]]:
    """A seeded Gaussian hyperplane family for sign-bit LSH — the
    production recall knob the axis-aligned family trades away for
    oracle portability. Deterministic for a given (dim, nbits, seed).
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    return [[float(x) for x in row] for row in rng.standard_normal((nbits, dim))]


def lsh_bucket_random(
    vec: Column, planes: list[list[float]]
) -> Column:
    """Random-projection sign-bit bucket: bit i = (vec · plane_i >= 0).

    Planes are inlined as array literals — at nbits×dim literal floats
    this stays well under plan-size limits for any practical nbits; for
    very high-dimensional vectors, ship the planes as a broadcast
    one-row DataFrame instead and crossJoin them in.
    """
    bits = []
    for p in planes:
        plane = F.array(*[F.lit(x) for x in p])
        bits.append(
            F.when(dot(vec, plane) >= 0, F.lit("1")).otherwise(F.lit("0"))
        )
    return F.concat(*bits)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (brute force).

    ``queries`` carries (query_id_col, vec_col). Output:
    (query_id, neighbor_id, score, rank). Deterministic: ranked on the
    rounded score with the neighbor id as tiebreaker.

    Norms are precomputed per side before the join: the corpus norm is
    evaluated once per corpus row instead of once per (query, corpus)
    pair — a |Q|-fold saving on the dominant term.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid"),
            F.col(vec_col).alias("__qvec"),
        ).withColumn("__qnorm", norm(F.col("__qvec")))
    )
    scored = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("__cnorm", norm(F.col(vec_col)))
        .crossJoin(q)
        .where(F.col(id_col) != F.col("__qid"))
        .select(
            F.col("__qid").alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.round(
                dot(F.col("__qvec"), F.col(vec_col))
                / (F.col("__qnorm") * F.col("__cnorm")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: per
    query, the top-k most-similar corpus vectors whose ``label_col``
    DIFFERS from the query's — the highest-scoring non-positives, the
    examples a bi-encoder learns most from (DPR / SimCLR-style
    in-batch negatives are easy; these are the hard ones).

    ``queries`` carries (query_id_col, vec_col, label_col); corpus
    rows sharing the query's label are positives and excluded BEFORE
    ranking, so a same-label near-duplicate can never crowd a true
    negative out of the top-k. Output: (query_id, neighbor_id, score,
    rank), rank deterministic on (rounded score DESC, neighbor id).

    Same execution geometry as :func:`cosine_topk` — broadcast query
    side (norms precomputed per side), JVM dot products, window
    top-k. NULL labels compare null-safely: NULL forms its own class
    (NULL-labeled corpus rows are positives only for NULL-labeled
    queries), rather than plain ``!=`` whose NULL result would
    silently drop those rows from BOTH sides of the decision.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid"),
            F.col(vec_col).alias("__qvec"),
            F.col(label_col).alias("__qlabel"),
        ).withColumn("__qnorm", norm(F.col("__qvec")))
    )
    scored = (
        corpus.select(F.col(id_col), F.col(vec_col), F.col(label_col))
        .withColumn("__cnorm", norm(F.col(vec_col)))
        .crossJoin(q)
        .where(
            (F.col(id_col) != F.col("__qid"))
            & ~F.col(label_col).eqNullSafe(F.col("__qlabel"))
        )
        .select(
            F.col("__qid").alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.round(
                dot(F.col("__qvec"), F.col(vec_col))
                / (F.col("__qnorm") * F.col("__cnorm")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nbits: int = 4,
    hyperplanes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k: brute force restricted to the query's LSH
    bucket. Same output shape (and norm precompute) as cosine_topk.

    Default bucketing is the oracle-portable axis-aligned family; pass
    ``hyperplanes`` (e.g. :func:`random_hyperplanes`) for the
    random-projection variant, which spreads the corpus across buckets
    independently of per-dimension sign skew.
    """
    if hyperplanes is not None:
        bucket = lambda v: lsh_bucket_random(v, hyperplanes)  # noqa: E731
    else:
        bucket = lambda v: lsh_bucket(v, nbits)  # noqa: E731
    c = corpus.select(
        F.col(id_col), F.col(vec_col), bucket(F.col(vec_col)).alias("__b")
    ).withColumn("__cnorm", norm(F.col(vec_col)))
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid"),
            F.col(vec_col).alias("__qvec"),
            bucket(F.col(vec_col)).alias("__b"),
        ).withColumn("__qnorm", norm(F.col("__qvec")))
    )
    scored = (
        c.join(q, "__b")
        .where(F.col(id_col) != F.col("__qid"))
        .select(
            F.col("__qid").alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.round(
                dot(F.col("__qvec"), F.col(vec_col))
                / (F.col("__qnorm") * F.col("__cnorm")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cosine_topk_lsh_tables(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nbits: int = 6,
    ntables: int = 4,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Multi-table random-hyperplane LSH top-k — the recall dial that a
    single hash table lacks: a true neighbor is a candidate if it
    collides in ANY of ``ntables`` independent tables
    (P = 1-(1-p^nbits)^ntables), the same band/row trade-off as MinHash
    banding. Candidates are the union of per-table bucket equi-joins,
    deduplicated before scoring so no pair is scored twice.

    Per-table buckets are exploded from one array column, so the corpus
    is scanned once regardless of ``ntables``; candidate dedup is one
    shuffle on (query, neighbor).
    """
    if dim is None:
        dim = corpus.select(F.size(vec_col)).first()[0]
    planes = [random_hyperplanes(dim, nbits, seed + t) for t in range(ntables)]

    def buckets(vec: Column) -> Column:
        return F.array(
            *[
                F.concat(F.lit(f"{t}:"), lsh_bucket_random(vec, planes[t]))
                for t in range(ntables)
            ]
        )

    c = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("__cnorm", norm(F.col(vec_col)))
        .withColumn("__b", F.explode(buckets(F.col(vec_col))))
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid"),
            F.col(vec_col).alias("__qvec"),
        )
        .withColumn("__qnorm", norm(F.col("__qvec")))
        .withColumn("__b", F.explode(buckets(F.col("__qvec"))))
    )
    cand = (
        c.join(q, "__b")
        .where(F.col(id_col) != F.col("__qid"))
        .dropDuplicates(["__qid", id_col])
    )
    scored = cand.select(
        F.col("__qid").alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        F.round(
            dot(F.col("__qvec"), F.col(vec_col))
            / (F.col("__qnorm") * F.col("__cnorm")),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    keep_norm_col: str | None = None,
    keep_sim_col: str | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine, centroid
    id as tiebreak) — the coarse quantizer of an IVF index.

    ``centroids`` carries (centroid_id_col, vec_col) and is broadcast:
    assignment is a narrow map-side pass over the corpus, no shuffle
    until someone aggregates the inverted lists. Returns the input
    columns + ``centroid_id``; pass ``keep_norm_col`` to also keep the
    per-row vector norm (already computed for assignment) so downstream
    scoring never re-evaluates it per candidate pair, and
    ``keep_sim_col`` to keep the winning centroid cosine (rounded to
    6 — semantic_dedup ranks cluster members by it).

    r16 plan shape (guide §2.3/§2.4): the winner is picked by a
    ``min_by`` partial aggregation instead of a ``row_number() == 1``
    window. The window shuffled the k×-inflated (row × centroid)
    scored rows and sorted them per id; the partial (map-side)
    aggregation collapses each vector back to ONE row BEFORE the
    exchange, so the shuffle carries |corpus| rows at any scale and
    there is no sort at all. ``spread`` fans the dot products out of
    a single-row-group scan (no-op on a wide scan); keyed on
    ``id_col`` so the aggregation reuses the partitioning instead of
    adding a second exchange.

    r17 (ADVICE r16): the ordering key is ``(__negsim, __cid)`` ONLY
    — payload columns ride in the ``min_by`` VALUE struct, which is
    never compared, so non-orderable payload types (maps) assign fine
    where the r16 ``min(struct(..., payload))`` raised. ``__negsim``
    pins the degenerate-similarity ordering to exactly the window's:
    a NaN cosine (zero-norm vector or centroid — IEEE 0/0) sorted
    FIRST under ``sim DESC`` (NaN is the largest double), so it maps
    to -Infinity here and still wins; a NULL cosine sorted LAST under
    DESC, so it coalesces to +Infinity and still loses. Cosines are
    in [-1, 1], so neither sentinel collides with a real score, and
    ``keep_sim_col`` re-emits the RAW ``__sim`` carried in the value
    struct — NaN stays NaN, exactly what the window emitted.
    ``(__negsim, __cid)`` stays a total order over a vector's
    candidate centroids (cid unique), so ``min_by``'s
    tie-nondeterminism never engages.
    """
    c = F.broadcast(
        centroids.select(
            F.col(centroid_id_col).alias("__cid"),
            F.col(vec_col).alias("__cvec"),
        ).withColumn("__cnorm", norm(F.col("__cvec")))
    )
    scored = (
        spread(df, id_col)
        .withColumn("__vnorm", norm(F.col(vec_col)))
        .crossJoin(c)
        .withColumn(
            "__sim",
            F.round(
                dot(F.col(vec_col), F.col("__cvec"))
                / (F.col("__vnorm") * F.col("__cnorm")),
                6,
            ),
        )
    )
    payload = [
        F.col(c_).alias(c_) for c_ in df.columns if c_ != id_col
    ]
    ord_key = F.struct(
        F.coalesce(
            F.nanvl(-F.col("__sim"), F.lit(float("-inf"))),
            F.lit(float("inf")),
        ).alias("__negsim"),
        F.col("__cid").alias("__cid"),
    )
    best = scored.groupBy(id_col).agg(
        F.min_by(
            F.struct(
                F.col("__cid").alias("__cid"),
                F.col("__vnorm").alias("__vnorm"),
                F.col("__sim").alias("__sim"),
                *payload,
            ),
            ord_key,
        ).alias("__w")
    )
    sel = [
        F.col(id_col) if c_ == id_col else F.col(f"__w.{c_}").alias(c_)
        for c_ in df.columns
    ]
    extra = (
        [F.col("__w.__vnorm").alias(keep_norm_col)] if keep_norm_col else []
    ) + (
        [F.col("__w.__sim").alias(keep_sim_col)] if keep_sim_col else []
    )
    return best.select(
        *sel, F.col("__w.__cid").alias("centroid_id"), *extra
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nprobe: int = 1,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in per-centroid
    inverted lists; each query probes its ``nprobe`` nearest lists and
    brute-forces only those. Same output shape as cosine_topk.

    With K centroids and nprobe=p this scans ~p/K of the corpus per
    query — the classic recall/cost dial. Any deterministic centroid
    set works (k-means in production; a fixed sample keeps results
    engine-reproducible for the oracle).
    """
    assigned = ivf_assign(
        corpus, centroids, id_col, vec_col, keep_norm_col="__cnorm2"
    )

    cq = F.broadcast(
        centroids.select(
            F.col("centroid_id").alias("__cid"),
            F.col(vec_col).alias("__cvec"),
        ).withColumn("__cnorm", norm(F.col("__cvec")))
    )
    q = queries.select(
        F.col(query_id_col).alias("__qid"), F.col(vec_col).alias("__qvec")
    ).withColumn("__qnorm", norm(F.col("__qvec")))
    probe_w = Window.partitionBy("__qid").orderBy(
        F.round(
            dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qnorm") * F.col("__cnorm")),
            6,
        ).desc(),
        F.col("__cid").asc(),
    )
    probes = F.broadcast(
        q.crossJoin(cq)
        .withColumn("__rn", F.row_number().over(probe_w))
        .where(F.col("__rn") <= nprobe)
        .select("__qid", "__qvec", "__qnorm", F.col("__cid").alias("centroid_id"))
    )

    scored = (
        assigned.join(probes, "centroid_id")
        .where(F.col(id_col) != F.col("__qid"))
        .select(
            F.col("__qid").alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.round(
                dot(F.col("__qvec"), F.col(vec_col))
                / (F.col("__qnorm") * F.col("__cnorm2")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cosine_topk_auto(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int = 200_000,
    allow_approximate: bool = False,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    nprobe: int = 1,
    rerank: int = 4,
    nbits: int = 4,
    hyperplanes: list[list[float]] | None = None,
) -> DataFrame:
    """Top-k cosine neighbors with the execution strategy picked
    automatically (callers previously had to choose, and the wrong
    pick is expensive in opposite directions).

    Policy (measured — the committed crossover table
    ``CROSSOVER_TOPK.json``, re-measurable with
    ``tools/measure_topk_crossover.py`` and pytest-pinned by
    ``test_cosine_topk_auto_matches_measured_crossover``):

    * ``|Q| <= max_queries`` → :func:`cosine_topk_gemm`. At every
      measured (sf, |Q|) point the BLAS path either wins outright or
      ties the crossJoin form within scheduler noise (sub-0.5s jobs
      swing ~15% run to run), and where the strategies genuinely
      diverge (|Q|=512: 2.0-8.4s brute vs 0.36-0.51s gemm at
      sf0.001-0.1) it wins by 5-17×: the JVM per-pair ``zip_with``
      dot costs ~10-30× more per FLOP than dgemm, and a single
      corpus-scan amortizes the Python-worker round trip even for
      ONE query. The IVF/IVFPQ serve times never beat GEMM at these
      corpus sizes (their payoff starts where the corpus no longer
      scans in one pass — they are the >broadcast-contract tier, not
      a small-corpus speedup). The crossJoin form
      (:func:`cosine_topk`) remains available for zero-Python-worker
      deployments, but it is never the speed pick.
    * ``|Q| > max_queries`` → exact top-k would break the
      queries-are-broadcastable contract every exact strategy shares
      (the GEMM path would raise — same bound, enforced). With
      ``allow_approximate=True`` the call degrades to the best
      bucketed tier the supplied index artifacts allow:
      :func:`cosine_topk_ivfpq` when ``centroids`` AND ``codebooks``
      are given (the deployment pick — compressed lists + exact
      re-rank), :func:`cosine_topk_ivf` with ``centroids`` alone,
      else :func:`cosine_topk_lsh` (index-free). Without the opt-in
      it raises: approximate results must never silently replace
      exact ones.

    The |Q| probe and the GEMM broadcast share ONE driver action: the
    query frame is collected once (bounded at ``max_queries + 1``
    rows) and the collected rows are threaded into the GEMM path, so
    a non-deterministic query frame cannot pass the size gate and
    then change under a second collect (ADVICE r10 #4). Only the
    over-limit approximate tiers re-scan the query frame — they never
    saw the gate's rows anyway and do their own bucketing.
    """
    qrows = queries.select(
        F.col(query_id_col), F.col(vec_col)
    ).limit(max_queries + 1).collect()
    nq = len(qrows)
    if nq == 0:
        raise ValueError("cosine_topk_auto: empty query frame")
    if nq <= max_queries:
        return cosine_topk_gemm(
            corpus, queries, k, id_col, vec_col, query_id_col,
            max_queries=max_queries, _qrows=qrows,
        )
    if not allow_approximate:
        raise ValueError(
            f"cosine_topk_auto: more than max_queries={max_queries} "
            "queries — the broadcast contract of every exact "
            "strategy. Pass allow_approximate=True to degrade to the "
            "IVF/LSH tier (supply centroids for IVF), or batch the "
            "query frame."
        )
    if codebooks is not None and centroids is None:
        raise ValueError(
            "cosine_topk_auto: codebooks without centroids — IVFADC "
            "needs both (PQ-only full-corpus ADC is cosine_topk_pq, "
            "which still broadcasts queries; supply centroids)"
        )
    if centroids is not None and codebooks is not None:
        return cosine_topk_ivfpq(
            corpus, queries, centroids, codebooks, k, rerank,
            id_col, vec_col, query_id_col, nprobe=nprobe,
        )
    if centroids is not None:
        return cosine_topk_ivf(
            corpus, queries, centroids, k, id_col, vec_col,
            query_id_col, nprobe=nprobe,
        )
    return cosine_topk_lsh(
        corpus, queries, k, id_col, vec_col, query_id_col,
        nbits=nbits, hyperplanes=hyperplanes,
    )


def train_centroids(
    df: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    max_iter: int = 5,
    seed: int = 7,
) -> DataFrame:
    """Train IVF coarse-quantizer centroids with MLlib k-means —
    Spark-first: distributed k-means|| initialization + Lloyd
    iterations from ``pyspark.ml``, not a hand-rolled loop. Returns
    (centroid_id, ``vec_col``) in exactly the shape
    :func:`ivf_assign`/:func:`cosine_topk_ivf` consume.

    The deterministic-sample centroids used by the oracle queries keep
    results engine-reproducible; these trained centroids are the
    production quality dial (tighter clusters → fewer probes for the
    same recall). Seeded, so the index is still reproducible run to
    run.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias(
            "features"
        )
    )
    model = KMeans(k=k, maxIter=max_iter, seed=seed).fit(train)
    spark = df.sparkSession
    return spark.createDataFrame(
        [
            (i, [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ],
        f"centroid_id int, {vec_col} array<double>",
    )


# ---------------------------------------------------------------------------
# Product quantization (the FAISS IVFADC memory-side scale path): vectors
# compressed to m small codes; search scores candidates from a per-query
# lookup table (asymmetric distance) and exact-re-ranks only the survivors.
# A 100 TB embedding corpus at d=1024 float32 is ~4 TB of raw vectors per
# billion rows; PQ at m=16,k=256 stores 16 bytes/vector (256x), which is
# what makes executor-resident candidate scoring feasible at all.
# ---------------------------------------------------------------------------


def _unit(vec_col: str) -> Column:
    """Vector scaled to unit L2 norm (zero vectors pass through)."""
    v = F.col(vec_col)
    n = norm(v)
    return F.when(n == 0, v.cast("array<double>")).otherwise(
        F.transform(v, lambda x: x.cast("double") / n)
    )


def pq_train(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    vec_col: str = "embedding",
    max_iter: int = 5,
    seed: int = 7,
    normalize: bool = True,
) -> DataFrame:
    """Train product-quantization codebooks: split d dims into ``m``
    contiguous subspaces and k-means each (MLlib, distributed) —
    ``m`` small driver-side fits over slices of one cached projection,
    not a hand-rolled loop over rows. Returns
    ``(subspace, code, codeword)`` with ``m*k`` rows — broadcast-sized
    by construction (16×256 codewords of 64 floats is ~1 MB).

    ``normalize=True`` trains on unit vectors — required when the
    codes will serve cosine/inner-product search
    (:func:`cosine_topk_pq` normalizes queries to match).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("pq_train: empty corpus")
    d = len(first[0])
    if d % m != 0:
        raise ValueError(f"pq_train: dim {d} not divisible by m={m}")
    sub_d = d // m
    base = df.select(
        (_unit(vec_col) if normalize else F.col(vec_col).cast("array<double>"))
        .alias("__v")
    ).cache()
    rows: list[tuple[int, int, list[float]]] = []
    try:
        for s in range(m):
            train = base.select(
                array_to_vector(
                    F.slice(F.col("__v"), s * sub_d + 1, sub_d)
                ).alias("features")
            )
            model = KMeans(k=k, maxIter=max_iter, seed=seed + s).fit(train)
            for c, center in enumerate(model.clusterCenters()):
                rows.append((s, c, [float(x) for x in center]))
    finally:
        base.unpersist()
    return df.sparkSession.createDataFrame(
        rows, "subspace int, code int, codeword array<double>"
    )


def _pq_meta(codebooks: DataFrame) -> tuple[int, int]:
    """(m, sub_d) from a codebook table — one tiny driver action."""
    agg = codebooks.agg(
        (F.max("subspace") + 1).alias("m"),
        F.size(F.first("codeword")).alias("sd"),
    ).first()
    if agg is None or agg["m"] is None:
        raise ValueError("empty codebooks")
    return agg["m"], agg["sd"]


def _check_pq_dim(df: DataFrame, vec_col: str, m: int, sub_d: int,
                  what: str) -> None:
    """Vectors must be exactly m·sub_d dims: F.slice past the end would
    silently yield short subvectors, NULL distances, and garbage codes."""
    first = df.select(vec_col).first()
    if first is not None and first[0] is not None and len(first[0]) != m * sub_d:
        raise ValueError(
            f"{what} dimension {len(first[0])} does not match codebooks "
            f"(m={m} × sub_d={sub_d} = {m * sub_d})"
        )


def _pq_subvectors(
    df: DataFrame, out_id: str, vec: Column, m: int, sub_d: int
) -> DataFrame:
    """Explode to one row per (id, subspace) carrying the subvector
    slice — the shared front half of encoding and ADC table build."""
    return df.select(
        F.col(out_id),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("subspace"),
        vec.alias("__v"),
    ).select(
        out_id,
        "subspace",
        F.slice(F.col("__v"), F.col("subspace") * sub_d + 1, sub_d).alias(
            "__sub"
        ),
    )


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    _meta: tuple[int, int] | None = None,
) -> DataFrame:
    """Encode each vector as ``m`` nearest-codeword ids (L2 per
    subspace) → ``(id, codes array<int>)``.

    Pure column algebra: explode to (vector × subspace), broadcast-join
    the codebooks, one aggregation for the argmin (``min(struct(dist,
    code))`` — deterministic tie-break toward the lower code id), one
    to reassemble the code array. ~m·k fused-codegen distance rows per
    vector, no shuffle wider than (id, subspace)."""
    m, sub_d = _meta if _meta is not None else _pq_meta(codebooks)
    _check_pq_dim(df, vec_col, m, sub_d, "corpus vector")
    # spread: the m·k fused-codegen distance rows per vector are the
    # dominant encode cost and otherwise run single-task on a
    # single-row-group scan (r16; no-op on a wide scan).
    sub = _pq_subvectors(
        spread(df, id_col).select(
            F.col(id_col),
            (
                _unit(vec_col)
                if normalize
                else F.col(vec_col).cast("array<double>")
            ).alias("__nv"),
        ),
        id_col,
        F.col("__nv"),
        m,
        sub_d,
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("__sub"), F.col("codeword"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    best = (
        sub.join(F.broadcast(codebooks), "subspace")
        .groupBy(id_col, "subspace")
        .agg(
            F.min(F.struct(d2.alias("d"), F.col("code").alias("code"))).alias(
                "__b"
            )
        )
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("subspace"), F.col("__b.code").alias("c"))
                )
            ),
            lambda s: s["c"],
        ).alias("codes")
    )


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ-accelerated cosine top-k with exact re-rank (IVFADC's ADC
    step): score every corpus vector against a per-query lookup table
    of subspace partial dot products (m additions per vector instead
    of d multiplies), keep the top ``rerank·k`` candidates, re-rank
    those exactly from the raw vectors, emit top ``k``. Output shape
    matches :func:`cosine_topk` (query_id, neighbor_id, score, rank)
    with exact rounded-cosine scores.

    Scale shape: the corpus side flows as (id, subspace, code) — the
    compressed representation — through one broadcast join with the
    |Q|·m·k lookup table and a (query, id) partial-sum aggregation;
    only ``rerank·k`` survivors per query ever touch raw vectors
    again. Candidate quality (and thus recall) is the m/k dial, paid
    in bytes-per-vector exactly as in a FAISS deployment."""
    m, sub_d = _pq_meta(codebooks)
    codes = pq_encode(
        corpus, codebooks, id_col=id_col, vec_col=vec_col, _meta=(m, sub_d)
    )
    qn = queries.select(
        F.col(query_id_col).alias("__qid"), _unit(vec_col).alias("__qv")
    )
    _check_pq_dim(qn, "__qv", m, sub_d, "query vector")
    qtab = (
        _pq_subvectors(qn, "__qid", F.col("__qv"), m, sub_d)
        .join(F.broadcast(codebooks), "subspace")
        .select(
            "__qid",
            "subspace",
            "code",
            dot(F.col("__sub"), F.col("codeword")).alias("__part"),
        )
    )
    cc = codes.select(
        F.col(id_col), F.posexplode("codes").alias("subspace", "code")
    )
    approx = (
        cc.join(F.broadcast(qtab), ["subspace", "code"])
        .where(F.col(id_col) != F.col("__qid"))
        .groupBy("__qid", id_col)
        .agg(F.sum("__part").alias("__approx"))
    )
    cand_w = Window.partitionBy("__qid").orderBy(
        F.col("__approx").desc(), F.col(id_col).asc()
    )
    cands = (
        approx.withColumn("__crn", F.row_number().over(cand_w))
        .where(F.col("__crn") <= rerank * k)
        .select("__qid", id_col)
    )
    exact = (
        cands.join(
            corpus.select(F.col(id_col), _unit(vec_col).alias("__cv")), id_col
        )
        .join(F.broadcast(qn), "__qid")
        .select(
            F.col("__qid").alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.round(dot(F.col("__qv"), F.col("__cv")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nprobe: int = 1,
) -> DataFrame:
    """FAISS-style **IVFADC**: the composition of the two scale dials
    this ladder already certifies separately — IVF inverted lists
    (:func:`ivf_assign`, scan ~nprobe/K of the corpus per query) over
    PQ-compressed vectors (:func:`pq_encode`, ~m bytes/vector resident
    instead of d floats), scored by asymmetric distance (per-query
    lookup table, m additions per candidate), with exact re-rank of
    the ``rerank·k`` survivors from raw vectors. This is the shape a
    billion-vector corpus actually deploys: neither full-corpus ADC
    (:func:`cosine_topk_pq`) nor raw-vector lists
    (:func:`cosine_topk_ivf`) alone survives 100 TB of embeddings.

    Cross-engine determinism: ADC partials are quantized to
    DECIMAL(18,9) BEFORE the per-candidate sum, so the approx ranking
    (and therefore the candidate cut at ``rerank·k``) is
    order-independent and replays exactly in a SQL oracle — the same
    quantize-then-exact-accumulate contract as the NB classifier.
    (FAISS sums raw floats; at 9 decimals the quantization is far
    below any meaningful ADC resolution.) Output shape matches
    :func:`cosine_topk` with exact rounded-cosine scores.

    With ``nprobe >= |centroids|`` and ``rerank·k >= |corpus|`` the
    result equals brute force EXACTLY (pytest-pinned) — the dials
    trade recall for cost, never correctness of what they keep.
    """
    m, sub_d = _pq_meta(codebooks)
    corp = corpus.select(F.col(id_col), F.col(vec_col))
    assigned = ivf_assign(corp, centroids, id_col, vec_col)
    codes = pq_encode(corp, codebooks, id_col, vec_col, _meta=(m, sub_d))
    cc = codes.join(assigned.select(id_col, "centroid_id"), id_col).select(
        F.col(id_col),
        "centroid_id",
        F.posexplode("codes").alias("subspace", "code"),
    )

    qn = queries.select(
        F.col(query_id_col).alias("__qid"), _unit(vec_col).alias("__qv")
    )
    _check_pq_dim(qn, "__qv", m, sub_d, "query vector")

    # probes: identical arithmetic to cosine_topk_ivf (rounded cosine
    # on the RAW query vector, centroid-id tiebreak)
    cq = F.broadcast(
        centroids.select(
            F.col("centroid_id").alias("__cid"),
            F.col(vec_col).alias("__cvec"),
        ).withColumn("__cnorm", norm(F.col("__cvec")))
    )
    qraw = queries.select(
        F.col(query_id_col).alias("__qid"), F.col(vec_col).alias("__qvec")
    ).withColumn("__qnorm", norm(F.col("__qvec")))
    probe_w = Window.partitionBy("__qid").orderBy(
        F.round(
            dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qnorm") * F.col("__cnorm")),
            6,
        ).desc(),
        F.col("__cid").asc(),
    )
    probes = F.broadcast(
        qraw.crossJoin(cq)
        .withColumn("__rn", F.row_number().over(probe_w))
        .where(F.col("__rn") <= nprobe)
        .select("__qid", F.col("__cid").alias("centroid_id"))
    )

    # ADC lookup table: |Q|·m·k rows, broadcast; DECIMAL partials
    qtab = F.broadcast(
        _pq_subvectors(qn, "__qid", F.col("__qv"), m, sub_d)
        .join(F.broadcast(codebooks), "subspace")
        .select(
            "__qid",
            "subspace",
            "code",
            F.round(dot(F.col("__sub"), F.col("codeword")), 9)
            .cast("decimal(18,9)")
            .alias("__part"),
        )
    )
    approx = (
        cc.join(probes, "centroid_id")
        .where(F.col(id_col) != F.col("__qid"))
        .join(qtab, ["__qid", "subspace", "code"])
        .groupBy("__qid", id_col)
        .agg(F.sum("__part").alias("__approx"))
    )
    cand_w = Window.partitionBy("__qid").orderBy(
        F.col("__approx").desc(), F.col(id_col).asc()
    )
    cands = (
        approx.withColumn("__crn", F.row_number().over(cand_w))
        .where(F.col("__crn") <= rerank * k)
        .select("__qid", id_col)
    )
    exact = (
        cands.join(
            corpus.select(F.col(id_col), _unit(vec_col).alias("__cv")),
            id_col,
        )
        .join(F.broadcast(qn), "__qid")
        .select(
            F.col("__qid").alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.round(dot(F.col("__qv"), F.col("__cv")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cosine_topk_gemm(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int = 200_000,
    _qrows: list | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine — the BLAS path.

    Same contract and output shape as :func:`cosine_topk` (rounded
    score, id tiebreak), different execution: instead of a
    crossJoin + per-pair ``zip_with`` dot (one JVM expression
    evaluation per (corpus, query) pair), each Arrow batch of the
    corpus is scored against the whole query matrix with ONE numpy
    matrix multiply (``mapInPandas`` kernel, Arrow transfer, BLAS
    dgemm underneath). Per batch only the local top-k per query
    survives, so the shuffle into the final global top-k carries
    ``k × batches × |Q|`` rows, never the full score matrix.

    When to choose it: the crossJoin form keeps everything in
    whole-stage codegen and wins when |Q| is tiny; the GEMM form wins
    as |Q| × dims grows (vectorized FLOPs amortize the Python worker
    round trip). Both scan the corpus once; neither shuffles it.

    The query side is collected to the driver and broadcast —
    queries-fit-in-memory is already the contract of every top-k
    variant here (they all broadcast the query frame). The contract is
    ENFORCED: more than ``max_queries`` rows raises instead of
    silently OOM-ing the driver — batch the query frame or use the
    LSH/IVF tiers for query sets that size.
    """
    import numpy as np
    import pandas as pd

    # ``_qrows`` (private): cosine_topk_auto threads its already-
    # collected (query_id, vec) rows through so the query frame is
    # materialized by exactly ONE driver action — a non-deterministic
    # query frame must not pass auto's size gate and then change
    # under a second collect (ADVICE r10 #4).
    qrows = (
        _qrows
        if _qrows is not None
        else queries.select(
            F.col(query_id_col), F.col(vec_col)
        ).limit(max_queries + 1).collect()
    )
    if not qrows:
        raise ValueError("cosine_topk_gemm: empty query frame")
    if len(qrows) > max_queries:
        raise ValueError(
            f"cosine_topk_gemm: query frame exceeds {max_queries} rows; "
            "the GEMM path broadcasts queries (driver-memory contract). "
            "Batch the queries or use cosine_topk_lsh / cosine_topk_ivf."
        )
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    Qn = Q / np.maximum(
        np.linalg.norm(Q, axis=1, keepdims=True), 1e-300
    )
    bc = corpus.sparkSession.sparkContext.broadcast((qids, Qn))

    def kernel(batches):
        b_qids, b_Qn = bc.value
        nq = len(b_qids)
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.array(list(pdf[vec_col]), dtype=np.float64)
            Cn = C / np.maximum(
                np.linalg.norm(C, axis=1, keepdims=True), 1e-300
            )
            S = Cn @ b_Qn.T  # (batch, |Q|)
            out_q, out_n, out_s = [], [], []
            kk = min(k, S.shape[0])
            for j in range(nq):
                s = S[:, j].copy()
                s[ids == b_qids[j]] = -np.inf  # self-match exclusion
                # Select per-batch survivors by the SAME key the final
                # ranking uses — (round(score, 6) desc, neighbor_id
                # asc) — so a rounded-score tie straddling the kk-th
                # slot keeps the lower id exactly like cosine_topk.
                # Spark's round() is HALF_UP; np.round is half-to-even,
                # which would key a score landing exactly on a 5e-7
                # half-point differently — round half away from zero
                # explicitly (sign-aware floor(|s|*1e6 + 0.5)).
                r = np.sign(s) * np.floor(np.abs(s) * 1e6 + 0.5) / 1e6
                order = np.lexsort((ids, -r))
                keep = order[np.isfinite(s[order])][:kk]
                out_q.extend([b_qids[j]] * len(keep))
                out_n.extend(ids[keep])
                out_s.extend(s[keep])
            yield pd.DataFrame(
                {
                    "query_id": np.array(out_q, dtype=np.int64),
                    "neighbor_id": np.array(out_n, dtype=np.int64),
                    "__raw": np.array(out_s, dtype=np.float64),
                }
            )

    cand = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        kernel, "query_id long, neighbor_id long, __raw double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__raw"), 6).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )

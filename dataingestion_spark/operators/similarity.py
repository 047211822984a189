"""Similarity search over embedding columns (array<float>).

Two paths, as the brief requires:

  * brute-force cosine top-k - the exact baseline. Dot products via
    F.zip_with + F.aggregate (JVM-side, codegen'd higher-order functions -
    no Python). The query set is small and broadcast; the corpus side
    streams - one broadcast-nested-loop of |corpus| x |queries| partial
    scores, then a per-query top-k window. At 100 TB the corpus scan is
    embarrassingly parallel and nothing shuffles except k rows per query.
  * sign-LSH bucketed ANN - the scale path: hyperplane-sign buckets from
    the embedding's own coordinates (portable: no engine-private RNG; the
    "hyperplanes" are fixed coordinate differences), candidates searched
    only within the query's bucket. Recall/latency trade via n_planes.

Scores are rounded to 6 dp before ranking so ordering is reproducible
across engines (FP summation-order noise stays below the rounding grain).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataingestion_spark.operators.parallel import fan_out


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays, rounded to 6 dp."""
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 6)


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query row.

    queries: (query_id, embedding). Small - Catalyst broadcasts it, so the
    plan is a broadcast nested-loop over the corpus scan with no shuffle of
    the big side; only k rows per query survive the rank filter."""
    q = queries.select(
        F.col(query_id_col), _as_double(vec_col).alias("_qvec")
    )
    c = fan_out(corpus).select(F.col(id_col), _as_double(vec_col).alias("_cvec"))
    scored = c.join(F.broadcast(q), F.col(id_col) != F.col(query_id_col)).select(
        query_id_col,
        id_col,
        cosine_expr(F.col("_qvec"), F.col("_cvec")).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "score")
    )


def sign_bucket_expr(vec_col: str, n_planes: int = 8, offset: int = 0) -> Column:
    """Coordinate-difference sign sketch: bit i = 1 iff
    v[offset + i] > v[offset + i + n]. A fixed, data-independent family of
    separating hyperplanes (x_i - x_j) - deterministic and expressible in
    any SQL engine. ``offset`` selects a disjoint-start plane family so a
    second-level refinement hash is independent of the first."""
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda i: F.when(
                F.element_at(_as_double(vec_col), (i + 1 + offset).cast("int"))
                > F.element_at(
                    _as_double(vec_col), (i + 1 + offset + n_planes).cast("int")
                ),
                F.pow(F.lit(2.0), i.cast("double")).cast("int"),
            ).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket.
    The bucket equi-join replaces the nested loop - candidate count drops
    ~2^n_planes-fold. A crowded sign bucket stays one task: the engine's
    session runs with AQE off, so nothing splits it at runtime."""
    q = queries.select(
        F.col(query_id_col),
        _as_double(vec_col).alias("_qvec"),
        sign_bucket_expr(vec_col, n_planes).alias("_bucket"),
    )
    c = fan_out(corpus).select(
        F.col(id_col),
        _as_double(vec_col).alias("_cvec"),
        sign_bucket_expr(vec_col, n_planes).alias("_bucket"),
    )
    scored = c.join(F.broadcast(q), "_bucket").where(
        F.col(id_col) != F.col(query_id_col)
    ).select(
        query_id_col,
        id_col,
        cosine_expr(F.col("_qvec"), F.col("_cvec")).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "score")
    )


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> DataFrame:
    """Deterministic IVF coarse quantizer: seed centroids are the
    ``n_centroids`` corpus vectors with the smallest md5(id) (a fixed
    pseudo-random sample any engine reproduces), optionally refined with
    Lloyd iterations (assign -> per-cell mean). Returns (cell, centroid).

    Scale: seeds are one tiny top-k; each refinement is one broadcast
    assign + one positional-mean aggregate whose output is n_centroids x
    dim values - always driver-safe."""
    seeds = (
        corpus.select(F.col(id_col), _as_double(vec_col).alias("centroid"))
        .withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(n_centroids)
    )
    w = Window.orderBy("_h", id_col)
    cents = seeds.select(
        (F.row_number().over(w) - 1).alias("cell"), F.col("centroid")
    )
    for _ in range(refine_iters):
        assigned = assign_cells(corpus, cents, id_col, vec_col)
        means = (
            assigned.select("cell", F.posexplode(_as_double(vec_col)))
            .groupBy("cell", "pos")
            .agg(F.avg("col").alias("v"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
            .select(
                "cell", F.transform("pv", lambda s: s["v"]).alias("centroid")
            )
        )
        cents = means
    return cents


# Max centroid doubles (n_centroids x dim) to inline as expression
# literals. Above this, generated code approaches Janino's 64KB method
# limit (falling back to slow interpreted eval) and the literal-laden
# plan tree bloats the driver; realistic IVF at ~sqrt(N) centroids
# (10^4 cells x 768 dims = 7.7M values) is far past it.
INLINE_LITERAL_BUDGET = 50_000


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its best (max rounded cosine, min cell on
    ties) centroid cell. Always ONE corpus scan, zero joins, zero
    shuffles; two physically different plans by centroid volume:

      * small (n_centroids x dim <= INLINE_LITERAL_BUDGET): centroids are
        collected (driver-safe by construction) and INLINED as literals -
        the argmax is one codegen'd constant-folded array expression.
      * large: the centroids are packed into ONE row of
        array<struct<cell, centroid>> and broadcast; a one-row broadcast
        cross-join attaches them and the same argmax runs as higher-order
        functions over the broadcast array - the centroid data rides as
        DATA, not code, so there is no Janino method-size ceiling and no
        driver-side plan bloat.

    Both paths compute identical doubles (same expression structure) and
    the same tiebreak: array_position of the max picks the FIRST = lowest
    cell (cells are in ascending order on both paths - orderBy on the
    small path, struct-ordered array_sort on the large one)."""
    n_lit = centroids.agg(
        F.coalesce(F.sum(F.size(F.col("centroid"))), F.lit(0))
    ).first()[0]
    corpus = fan_out(corpus)
    if n_lit == 0:
        return corpus.withColumn("cell", F.lit(None).cast("int"))
    vec = _as_double(vec_col)
    if n_lit <= INLINE_LITERAL_BUDGET:
        rows = centroids.orderBy("cell").collect()
        scores = F.array(
            *[
                cosine_expr(
                    vec, F.array(*[F.lit(float(x)) for x in r["centroid"]])
                )
                for r in rows
            ]
        )
        cells = F.array(*[F.lit(int(r["cell"])) for r in rows])
        best = F.element_at(
            cells, F.array_position(scores, F.array_max(scores)).cast("int")
        )
        return corpus.withColumn("cell", best)
    packed = centroids.select(
        F.struct(
            F.col("cell").cast("int").alias("cell"),
            F.col("centroid").cast("array<double>").alias("centroid"),
        ).alias("_c")
    ).agg(F.array_sort(F.collect_list("_c")).alias("_cents"))
    joined = corpus.join(F.broadcast(packed))
    scores = F.transform(
        F.col("_cents"), lambda s: cosine_expr(vec, s["centroid"])
    )
    cells = F.transform(F.col("_cents"), lambda s: s["cell"])
    best = F.element_at(
        cells, F.array_position(scores, F.array_max(scores)).cast("int")
    )
    return joined.withColumn("cell", best).drop("_cents")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    refine_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: exact cosine only against vectors whose cell
    is among the query's ``n_probe`` closest centroids. The inverted lists
    are an equi-join on the integer cell id - shuffle volume O(corpus),
    never O(corpus x queries); recall/latency trades via n_probe."""
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col, refine_iters)
    cells = assign_cells(corpus, cents, id_col, vec_col).select(
        F.col(id_col), _as_double(vec_col).alias("_cvec"), "cell"
    )
    qscored = queries.join(F.broadcast(cents)).select(
        F.col(query_id_col),
        _as_double(vec_col).alias("_qvec"),
        F.col("cell"),
        cosine_expr(_as_double(vec_col), F.col("centroid")).alias("_cscore"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("_cscore").desc(), F.col("cell").asc()
    )
    probes = (
        qscored.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= n_probe)
        .select(query_id_col, "_qvec", "cell")
    )
    scored = cells.join(F.broadcast(probes), "cell").where(
        F.col(id_col) != F.col(query_id_col)
    ).select(
        query_id_col,
        id_col,
        cosine_expr(F.col("_qvec"), F.col("_cvec")).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "score")
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket_rows: int = 1024,
    refine_planes: int = 6,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b) within sign buckets.

    Scale safety - the within-bucket self-join is O(Σ bucket²), so bucket
    width must not grow with the corpus:

      * ``n_planes=None`` sizes the bucket space from the corpus itself:
        2^n_planes ≈ corpus / target_bucket_rows (clamped to what the
        vector dimension supports), so expected bucket width stays
        ~target_bucket_rows at any corpus size.
      * a per-bucket width GUARD then splits every bucket that still
        exceeds ``target_bucket_rows`` (skew: dense regions of embedding
        space) with a second, independent plane family - bounded recall
        trade documented here: a true pair straddling a refinement split
        is missed, but only inside buckets that were overfull, and the
        alternative is a quadratic straggler task.

    The bucket-size pre-scan is one ≤2^n_planes-row aggregate, broadcast
    back - never a driver-side width."""
    dim_row = corpus.select(F.size(_as_double(vec_col))).first()
    dim = (dim_row[0] or 0) if dim_row else 0
    if n_planes is None:
        import math

        n = corpus.count()
        wanted = max(2, math.ceil(math.log2(max(n / target_bucket_rows, 2))))
        n_planes = min(wanted, dim // 2 if dim else wanted)
    c = fan_out(corpus).select(
        F.col(id_col),
        _as_double(vec_col).alias("_v"),
        sign_bucket_expr(vec_col, n_planes).alias("_bucket"),
    )
    sub_planes = min(refine_planes, max((dim - n_planes) // 2, 0))
    if sub_planes > 0:
        sizes = c.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_bw"))
        c = c.join(F.broadcast(sizes), "_bucket")
        c = c.withColumn(
            "_sub",
            F.when(
                F.col("_bw") > target_bucket_rows,
                sign_bucket_expr("_v", sub_planes, offset=n_planes),
            ).otherwise(F.lit(0)),
        ).drop("_bw")
    else:
        c = c.withColumn("_sub", F.lit(0))
    join_keys = ["_bucket", "_sub"]
    a = c.select(
        F.col(id_col).alias("id_a"), F.col("_v").alias("_va"), *join_keys
    )
    b = c.select(
        F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"), *join_keys
    )
    return (
        a.join(b, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_expr(F.col("_va"), F.col("_vb")).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization
# ---------------------------------------------------------------------------


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Per-vector symmetric scalar quantization: q_i = round(x_i / scale)
    with scale = max|x| / (2^(bits-1) - 1), the standard int8 embedding
    compression (4x smaller than float32, 8x than float64). Returns
    (id, q array<int>, scale double); dequantize is q_i * scale.

    At 100 TB of embeddings this is a STORAGE-TIER operator: the
    quantized table is what similarity scans read (4x less IO, and the
    integer dot product vectorizes), with the float originals kept cold
    for re-ranking. Quantized cosine needs no dequantization at all -
    dot(qa,qb) / (|qa||qb|) cancels both scales (see quantized_topk).

    Determinism: elements are cast to double before any arithmetic, the
    per-vector max and the division are order-fixed expressions, and
    round() is half-away-from-zero in both Spark and DuckDB - the oracle
    reproduces q exactly. A zero/null vector gets scale 1.0 (no
    divide-by-zero; q stays zeros/null)."""
    levels = (1 << (bits - 1)) - 1
    v = _as_double(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(amax > 0, amax / levels).otherwise(F.lit(1.0))
    q = F.transform(v, lambda x: F.round(x / scale).cast("int"))
    return df.select(F.col(id_col), q.alias("q"), scale.alias("scale"))


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    bits: int = 8,
) -> DataFrame:
    """Exact-arithmetic top-k under QUANTIZED cosine: both sides are
    int8-quantized, scored by dot(qa,qb) / (|qa| |qb|) - the scales
    cancel, so the score is a pure function of integer dot products
    (int64-exact sums; only the final divide and sqrt are floating).
    Same plan shape as brute_force_topk: broadcast queries, shuffle-free
    scoring scan, per-query rank filter. This is the cheap first pass a
    100 TB pipeline runs over the quantized tier before float re-ranking
    the survivors."""
    qc = quantize_embeddings(corpus, id_col, vec_col, bits).withColumnRenamed(
        "q", "_cq"
    )
    qq = quantize_embeddings(queries, query_id_col, vec_col, bits).select(
        F.col(query_id_col), F.col("q").alias("_qq")
    )

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    scored = (
        fan_out(qc)
        .join(F.broadcast(qq), F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                idot(F.col("_qq"), F.col("_cq"))
                / (
                    F.sqrt(idot(F.col("_qq"), F.col("_qq")).cast("double"))
                    * F.sqrt(idot(F.col("_cq"), F.col("_cq")).cast("double"))
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "score")
    )

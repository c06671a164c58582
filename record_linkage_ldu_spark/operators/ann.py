"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — broadcast the (small) query set
against the corpus, dot products via native higher-order functions
(zip_with + aggregate; JVM-side, no Python).  Scale path: sign-LSH
bucketing (random-hyperplane family; here the deterministic axis-sign
variant so the DuckDB oracle can reproduce it) — candidates only
within matching sign buckets.

At cluster scale the corpus side is scanned once per query batch;
top-k per query is a window over (query, sim) — partial aggregation
keeps the shuffle at k rows per query per partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .blocking import candidate_pairs
from .dedup import ensure_width


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self): broadcast
    queries x corpus, native cosine, window top-k.  Deterministic
    tiebreak: (sim desc, neighbor id asc)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    c = ensure_width(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    sims = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def sql_cosine_topk(
    table: str,
    query_pred: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle twin (list_cosine_similarity + window)."""
    return f"""
        WITH q AS (
            SELECT {id_col} AS query_id,
                   CAST({vec_col} AS DOUBLE[]) AS qv
            FROM {table} WHERE {query_pred}
        ),
        sims AS (
            SELECT q.query_id, c.{id_col} AS neighbor_id,
                   round(list_cosine_similarity(q.qv,
                         CAST(c.{vec_col} AS DOUBLE[])), 6) AS cosine_sim
            FROM q, {table} c
            WHERE q.query_id <> c.{id_col}
        )
        SELECT query_id, neighbor_id, cosine_sim, rank FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine_sim DESC, neighbor_id ASC) AS INT) AS rank
            FROM sims
        ) WHERE rank <= {k}
    """


def sign_bucket(vec: Column, nbits: int = 8) -> Column:
    """Deterministic sign-LSH bucket: concatenated signs of the first
    nbits dimensions (the axis-aligned member of the random-hyperplane
    family — planes are fixed so Spark and the oracle agree)."""
    bits = [
        F.when(F.try_element_at(vec, F.lit(i + 1)) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for i in range(nbits)
    ]
    return F.concat(*bits)


def random_hyperplanes(
    nbits: int, dim: int, seed: str = "rh"
) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (p, d) is an
    md5 draw mapped to [-1, 1).  No RNG state — the same (nbits, dim,
    seed) always yields the same planes, and they are injected as
    LITERALS into both the Spark plan and the DuckDB oracle, so the
    two engines agree bit-for-bit (including at sign boundaries).

    This is the full random-hyperplane family [Charikar, STOC'02]; the
    axis-sign ``sign_bucket`` is its degenerate axis-aligned member.
    Random planes decorrelate the bucket bits when embedding
    dimensions are correlated (axis signs then waste bits on
    near-constant dimensions)."""
    import hashlib

    return [
        [
            int.from_bytes(
                hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()[:4], "big"
            )
            / 2147483648.0
            - 1.0
            for d in range(dim)
        ]
        for p in range(nbits)
    ]


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket under explicit hyperplanes: bit p = sign of
    dot(vec, planes[p]).  The dot is an explicit left-associated term
    sum (not a fold/lambda) so DuckDB's identically-ordered `+` chain
    reproduces the exact double result."""
    bits = []
    for plane in planes:
        terms = [
            F.try_element_at(vec, F.lit(d + 1)) * F.lit(c)
            for d, c in enumerate(plane)
        ]
        dot_expr = terms[0]
        for t in terms[1:]:
            dot_expr = dot_expr + t
        bits.append(
            F.when(dot_expr >= 0, F.lit("1")).otherwise(F.lit("0"))
        )
    return F.concat(*bits)


def sql_hyperplane_bucket(
    vec_expr: str, planes: list[list[float]]
) -> str:
    """DuckDB twin of ``hyperplane_bucket`` (same literals, same
    left-associated sum order)."""
    bits = []
    for plane in planes:
        dot = " + ".join(
            f"({vec_expr})[{d + 1}] * {c!r}" for d, c in enumerate(plane)
        )
        bits.append(f"(CASE WHEN ({dot}) >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


def auto_nbits(n_vectors: int, target_bucket: int = 500) -> int:
    """Scale-aware bucket width: enough sign bits that the MEAN bucket
    holds ~``target_bucket`` vectors (occupancy is skewed on correlated
    embedding dims, so the census/cap/salt tiers below still bound the
    tail).  Clamped to [8, 24] — 2^24 buckets is plenty of spread and
    the join key stays a short string."""
    import math

    if n_vectors <= target_bucket:
        return 8
    return max(8, min(24, math.ceil(math.log2(n_vectors / target_bucket))))


def _sign_bucket_candidates(
    corpus: DataFrame,
    nbits: int,
    id_col: str,
    vec_col: str,
    multiprobe: bool,
    max_bucket_size: int | None,
    salt_buckets: int,
    drop_factor: int,
    planes: list[list[float]] | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Shared candidate stage for the sign-LSH family: (doc_id, bucket)
    keys routed through the census/cap/salt tiers of
    ``capped_bucket_pairs`` — the same bounded-width scheme the
    MinHash/SimHash bucket families use.  A plain ``a.join(b, bucket)``
    goes quadratic inside ONE join key when a mega-bucket appears
    (embedding dims are correlated, so sign-bucket occupancy is
    heavily skewed at corpus scale); the tiers cap it: plain equi-join
    up to ``max_bucket_size``, lossless triangle-salted join up to
    ``drop_factor`` times that, census-reported drop beyond.

    ``multiprobe=True`` additionally emits every 1-bit-flip of the
    bucket as a probe key: two vectors whose buckets differ in <= 2
    sign bits then share at least one key (flip_i(a) == flip_j(b) when
    a ^ b == e_i ^ e_j), trading ``nbits`` extra key rows per vector
    for recall across sign-boundary jitter.  Same-bucket pairs meet in
    every shared key; ``capped_bucket_pairs``' single pair-dedup
    collapses them.

    Returns (pairs(vid_1 < vid_2), dropped_census | None).
    """
    from .dedup import _pin, capped_bucket_pairs

    if planes is not None:
        nbits = len(planes)
    vec = F.col(vec_col).cast("array<double>")
    bucket = (
        hyperplane_bucket(vec, planes)
        if planes is not None
        else sign_bucket(vec, nbits)
    )
    # pin the key table: the bucket expression is nbits dot products
    # per vector, re-executed by every tier/census reference otherwise
    # (same rationale as dedup._pin; this table is the persistable
    # LSH index at production scale)
    base = _pin(
        ensure_width(corpus).select(
            F.col(id_col).alias("doc_id"), bucket.alias("bucket")
        ),
        True,
    )
    if multiprobe:
        flips = [
            F.concat(
                F.substring("bucket", 1, i),
                F.when(
                    F.substring("bucket", i + 1, 1) == "1", F.lit("0")
                ).otherwise(F.lit("1")),
                F.substring("bucket", i + 2, nbits - i - 1),
            )
            for i in range(nbits)
        ]
        keys = base.select(
            "doc_id",
            F.explode(F.array(F.col("bucket"), *flips)).alias("block_key"),
        )
    else:
        keys = base.select("doc_id", F.col("bucket").alias("block_key"))
    if max_bucket_size is None:
        return candidate_pairs(keys, dedup=multiprobe), None
    # single probe = one key per doc = a pair lives in exactly one
    # bucket/tier: skip the pair-dedup shuffle (unique_key)
    pairs, dropped = capped_bucket_pairs(
        keys, max_bucket_size, salt_buckets, drop_factor,
        unique_key=not multiprobe,
    )
    return pairs, dropped


def lsh_topk(
    corpus: DataFrame,
    k: int = 5,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = False,
    max_bucket_size: int | None = 1000,
    salt_buckets: int = 8,
    drop_factor: int = 16,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate all-pairs top-k: cosine ranking restricted to
    same-sign-bucket candidates.  ``planes`` switches the bucket from
    axis signs to explicit random hyperplanes
    (``random_hyperplanes``) — decorrelated bits on correlated
    embedding dims.

    Candidates come from ``_sign_bucket_candidates`` — census/cap/salt
    tiers bound the per-key join width (a plain bucket self-join goes
    quadratic in one mega-bucket at corpus scale).  The salt tier is
    lossless, so results are identical to the plain join unless a
    bucket exceeds the drop ceiling; recall vs the brute-force baseline
    is gated by tests/test_ann.py.  ``multiprobe=True`` adds 1-bit-flip
    probe keys (recall across sign jitter; off for the DuckDB oracle,
    which reproduces the single-probe candidate set exactly).
    """
    pairs, _ = _sign_bucket_candidates(
        corpus, nbits, id_col, vec_col, multiprobe,
        max_bucket_size, salt_buckets, drop_factor, planes=planes,
    )
    vecs = ensure_width(corpus).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    sims = (
        pairs.join(
            vecs.select(F.col("vid").alias("doc_id_1"), F.col("v").alias("v1")),
            "doc_id_1",
        )
        .join(
            vecs.select(F.col("vid").alias("doc_id_2"), F.col("v").alias("v2")),
            "doc_id_2",
        )
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(cosine(F.col("v1"), F.col("v2")), 6).alias("cosine_sim"),
        )
    )
    # unordered candidate pairs -> both query orientations (cosine is
    # symmetric: one similarity evaluation serves both)
    both = sims.select(
        F.col("doc_id_1").alias("query_id"),
        F.col("doc_id_2").alias("neighbor_id"),
        "cosine_sim",
    ).unionByName(
        sims.select(
            F.col("doc_id_2").alias("query_id"),
            F.col("doc_id_1").alias("neighbor_id"),
            "cosine_sim",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        both.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: KMeans (pyspark.ml, fixed seed) over the
    corpus; returns (centroids(centroid_id, cv), assigned(vec_id, v,
    centroid_id)).

    At scale the assignment is the index build (one pass over the
    corpus; persists as a `centroid_id`-partitioned table) and the
    centroid set is a driver-sized broadcast (n_centroids x dim
    doubles) — the standard IVF split of [Jégou et al., PAMI'11]
    restated as DataFrames.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    base = ensure_width(corpus).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    feats = base.withColumn("_fv", array_to_vector("v"))
    model = KMeans(
        k=n_centroids, seed=seed, featuresCol="_fv",
        predictionCol="centroid_id",
    ).fit(feats)
    assigned = model.transform(feats).select("vid", "v", "centroid_id")
    centroids = corpus.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "centroid_id int, cv array<double>",
    )
    return centroids, assigned


def fixed_ivf_index(
    corpus: DataFrame,
    modulus: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic coarse quantizer: centroids are the corpus
    vectors whose id is divisible by ``modulus`` (centroid_id = that
    id), assignment = argmax cosine (rounded to 6, centroid_id
    tiebreak).  KMeans (``ivf_index``) is the production quantizer but
    is not SQL-expressible — this one is, end to end, so the IVF
    PROBE path gets a DuckDB hash gate (driver entry
    ``ivf_probe_topk``) instead of a rows-only check.  Same
    (centroids, assigned) contract as ``ivf_index``.
    """
    base = ensure_width(corpus).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # centroid_id stays long: ids >= 2^31 would silently overflow or
    # collide under an int cast
    centroids = base.where(F.col("vid") % modulus == 0).select(
        F.col("vid").cast("long").alias("centroid_id"),
        F.col("v").alias("cv"),
    )
    if centroids.limit(1).count() == 0:
        raise ValueError(
            "fixed_ivf_index: no corpus id is divisible by "
            f"modulus={modulus}; ivf_topk/semdedup over an empty "
            "centroid set would silently return no rows — pick a "
            "modulus that selects at least one centroid"
        )
    return centroids, assign_to_centroids(corpus, centroids, id_col, vec_col)


def assign_to_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cell assignment against an EXTERNAL centroid table (argmax
    cosine, rounded to 6, centroid_id tiebreak) — the index-build half
    of IVF when the quantizer was trained offline (``ivf_index`` /
    ``tools/train_ann_artifacts.py``) and shipped as an artifact.
    Same ``assigned(vid, v, centroid_id)`` contract as the in-query
    builders; one broadcast-centroid pass over the corpus."""
    base = ensure_width(corpus).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    w = Window.partitionBy("vid").orderBy(
        F.col("_cs").desc(), F.col("centroid_id").asc()
    )
    return (
        base.crossJoin(F.broadcast(centroids))
        .select(
            "vid", "v", "centroid_id",
            F.round(cosine(F.col("v"), F.col("cv")), 6).alias("_cs"),
        )
        .withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select("vid", "v", "centroid_id")
    )


def sql_ivf_probe_topk(
    table: str,
    query_pred: str,
    k: int = 5,
    nprobe: int = 4,
    modulus: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of ``ivf_topk`` over a ``fixed_ivf_index``: the
    same probe-and-rank plan as SQL (centroids from the table itself —
    no literal injection needed)."""
    cos = "list_cosine_similarity"
    return f"""
        WITH cent AS (
            SELECT CAST({id_col} AS BIGINT) AS centroid_id,
                   CAST({vec_col} AS DOUBLE[]) AS cv
            FROM {table} WHERE {id_col} % {modulus} = 0
        ),
        assigned AS (
            SELECT vid, v, centroid_id FROM (
                SELECT e.{id_col} AS vid,
                       CAST(e.{vec_col} AS DOUBLE[]) AS v,
                       c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.{id_col}
                           ORDER BY round({cos}(
                               CAST(e.{vec_col} AS DOUBLE[]), c.cv), 6) DESC,
                               c.centroid_id ASC) AS _r
                FROM {table} e, cent c
            ) WHERE _r = 1
        ),
        probes AS (
            SELECT query_id, qv, centroid_id FROM (
                SELECT q.{id_col} AS query_id,
                       CAST(q.{vec_col} AS DOUBLE[]) AS qv,
                       c.centroid_id,
                       row_number() OVER (
                           PARTITION BY q.{id_col}
                           ORDER BY round({cos}(
                               CAST(q.{vec_col} AS DOUBLE[]), c.cv), 6) DESC,
                               c.centroid_id ASC) AS _pr
                FROM {table} q, cent c
                WHERE {query_pred.replace(id_col, "q." + id_col)}
            ) WHERE _pr <= {nprobe}
        ),
        sims AS (
            SELECT p.query_id, a.vid AS neighbor_id,
                   round({cos}(p.qv, a.v), 6) AS cosine_sim
            FROM probes p JOIN assigned a USING (centroid_id)
            WHERE p.query_id <> a.vid
        )
        SELECT query_id, neighbor_id, cosine_sim, rank FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine_sim DESC, neighbor_id ASC) AS INT) AS rank
            FROM sims
        ) WHERE rank <= {k}
    """


def save_ivf_index(
    centroids: DataFrame, assigned: DataFrame, path: str
) -> None:
    """Persist an IVF index: centroids as one small parquet, the
    assignment repartitioned by ``centroid_id`` so a probe's equi-join
    reads co-located cells (partition pruning at the parquet layer via
    the directory partitioning)."""
    centroids.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    assigned.repartition("centroid_id").write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(f"{path}/assigned")


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    return (
        spark.read.parquet(f"{path}/centroids"),
        spark.read.parquet(f"{path}/assigned"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``nprobe`` nearest
    centroids and ranks only the vectors assigned to those cells.

    Scale shape: queries x centroids is a broadcast of a tiny table
    (never the corpus); the candidate stage is an equi-join on
    ``centroid_id`` against the partitioned assignment — the corpus
    cross join never happens.  ``nprobe == n_centroids`` degenerates
    to exact brute force (recall 1.0 by construction — the pytest
    anchor); recall at lower nprobe is measured against
    ``cosine_topk``.  KMeans is not expressible in the DuckDB oracle,
    so this operator is covered by pytest + a rows-only driver entry.

    ``index``: a prebuilt ``(centroids, assigned)`` pair from
    ``ivf_index`` / ``load_ivf_index``.  Pass it in production — the
    KMeans build is the expensive amortizable step (one corpus pass +
    training) and does not belong in the query path; without it this
    function rebuilds the index per call (convenience/test mode).
    """
    centroids, assigned = index if index is not None else ivf_index(
        corpus, n_centroids, id_col, vec_col, seed
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("centroid_sim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        F.broadcast(q)
        .crossJoin(F.broadcast(centroids))
        .select(
            "query_id", "qv", "centroid_id",
            # rounded before ranking (like every sim ordering here) so
            # probe selection is stable across engines/architectures
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias(
                "centroid_sim"
            ),
        )
        .withColumn("_pr", F.row_number().over(wc))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", "qv", "centroid_id")
    )
    sims = (
        probes.join(assigned, "centroid_id")
        .where(F.col("query_id") != F.col("vid"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("v")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = False,
    max_bucket_size: int | None = 1000,
    salt_buckets: int = 8,
    drop_factor: int = 16,
    with_census: bool = False,
    planes: list[list[float]] | None = None,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Embedding-cosine near-duplicate pairs: unordered same-bucket
    pairs with cosine >= threshold (the dedup-flavored sibling of
    ``lsh_topk`` — a pair set, not per-query top-k).

    Same scale shape as MinHash dedup: sign-LSH bucket candidates
    routed through the census/cap/salt tiers (``capped_bucket_pairs``),
    exact cosine verifying candidates.  The salt tier is lossless —
    results equal the plain bucket join unless a bucket exceeds the
    drop ceiling (``max_bucket_size * drop_factor``; degenerate
    embedding mass, e.g. zero/templated vectors).  ``multiprobe=True``
    adds 1-bit-flip probe keys for recall across sign jitter; the
    default single probe keeps the DuckDB oracle exact.  Pick ``nbits``
    with ``auto_nbits(corpus_size)`` at scale.

    ``with_census=True`` returns (pairs, dropped_census) so callers
    can observe which mega-buckets lost their pairs — dropped content
    is the MOST duplicated content, so the drop must be a reported
    decision, not a silent one.
    """
    pairs, dropped = _sign_bucket_candidates(
        corpus, nbits, id_col, vec_col, multiprobe,
        max_bucket_size, salt_buckets, drop_factor, planes=planes,
    )
    vecs = ensure_width(corpus).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    out = (
        pairs.join(
            vecs.select(F.col("vid").alias("doc_id_1"), F.col("v").alias("v1")),
            "doc_id_1",
        )
        .join(
            vecs.select(F.col("vid").alias("doc_id_2"), F.col("v").alias("v2")),
            "doc_id_2",
        )
        .select(
            F.col("doc_id_1").alias("vec_id_1"),
            F.col("doc_id_2").alias("vec_id_2"),
            F.round(cosine(F.col("v1"), F.col("v2")), 6).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )
    if with_census:
        empty = corpus.sparkSession.createDataFrame(
            [], "block_key string, block_size long"
        )
        return out, (dropped if dropped is not None else empty)
    return out


def sql_embedding_near_duplicates(
    table: str,
    threshold: float = 0.95,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    bits = " || ".join(
        f"(CASE WHEN CAST({vec_col} AS DOUBLE[])[{i + 1}] >= 0 "
        "THEN '1' ELSE '0' END)"
        for i in range(nbits)
    )
    return f"""
        WITH base AS (
            SELECT {id_col} AS vid, CAST({vec_col} AS DOUBLE[]) AS v,
                   {bits} AS bucket
            FROM {table}
        )
        SELECT a.vid AS vec_id_1, b.vid AS vec_id_2,
               round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
        FROM base a JOIN base b ON a.bucket = b.bucket AND a.vid < b.vid
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {threshold}
    """


def sql_lsh_topk(
    table: str, k: int = 5, nbits: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    multiprobe: bool = False,
) -> str:
    """``multiprobe=True`` reproduces the 1-bit-flip probe-key
    candidate set (r5: the production recall knob is now twinned too —
    each vector emits its bucket plus every 1-bit flip, so buckets
    within hamming 2 collide, exactly `_sign_bucket_candidates`)."""
    if planes is not None:
        bits = sql_hyperplane_bucket(f"CAST({vec_col} AS DOUBLE[])", planes)
        nbits = len(planes)
    else:
        bits = " || ".join(
            f"(CASE WHEN CAST({vec_col} AS DOUBLE[])[{i + 1}] >= 0 "
            "THEN '1' ELSE '0' END)"
            for i in range(nbits)
        )
    if multiprobe:
        cand = f"""keys AS (
            SELECT vid, v,
                   CASE WHEN j.j = 0 THEN bucket
                        ELSE substr(bucket, 1, j.j - 1)
                             || (CASE WHEN substr(bucket, j.j, 1) = '1'
                                      THEN '0' ELSE '1' END)
                             || substr(bucket, j.j + 1, {nbits} - j.j)
                   END AS probe
            FROM base, range(0, {nbits + 1}) j(j)
        ),
        cand AS (
            SELECT DISTINCT a.vid AS vid_a, b.vid AS vid_b
            FROM keys a JOIN keys b
              ON a.probe = b.probe AND a.vid <> b.vid
        ),
        sims AS (
            SELECT c.vid_a AS query_id, c.vid_b AS neighbor_id,
                   round(list_cosine_similarity(ba.v, bb.v), 6)
                       AS cosine_sim
            FROM cand c
            JOIN base ba ON c.vid_a = ba.vid
            JOIN base bb ON c.vid_b = bb.vid
        )"""
    else:
        cand = """sims AS (
            SELECT a.vid AS query_id, b.vid AS neighbor_id,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
            FROM base a JOIN base b ON a.bucket = b.bucket AND a.vid <> b.vid
        )"""
    return f"""
        WITH base AS (
            SELECT {id_col} AS vid, CAST({vec_col} AS DOUBLE[]) AS v,
                   {bits} AS bucket
            FROM {table}
        ),
        {cand}
        SELECT query_id, neighbor_id, cosine_sim, rank FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine_sim DESC, neighbor_id ASC) AS INT) AS rank
            FROM sims
        ) WHERE rank <= {k}
    """


# ------------------------------------------------------------------
# SemDeDup — semantic deduplication (Abbas et al., arXiv:2303.09540)
# ------------------------------------------------------------------


def semdedup(
    corpus: DataFrame,
    threshold: float = 0.2,
    modulus: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[DataFrame, DataFrame] | None = None,
    max_bucket_size: int = 1000,
    salt_buckets: int = 8,
    drop_factor: int = 16,
    with_census: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup over
    an embedding column.  Cluster with a coarse quantizer, call
    within-cluster pairs with cosine >= threshold semantic duplicates,
    and per duplicate group KEEP the member with the LOWEST cosine to
    its cluster centroid (the paper's keep policy: prototypical
    members drop, the informative outlier stays; ties break on id).

    Returns (vec_id, centroid_id, group_id, centroid_sim, keep) for
    the WHOLE corpus — singletons are their own group and keep
    themselves.  Filtering the corpus is one semi-join on keep = 1.

    Scale shape: the quantizer assignment is the index build (one
    corpus pass; ``fixed_ivf_index`` here for the DuckDB twin,
    ``ivf_index``'s KMeans in production — same contract).  Cells are
    the buckets of ``capped_bucket_pairs`` (census/cap/salt tiers), so
    a degenerate mega-cell is bounded per task, never quadratic in one
    join key; each vector holds exactly one cell key (unique_key=True
    skips the no-op pair-dedup shuffle).  Duplicate groups are
    connected components of the verified pair graph (orders smaller
    than the corpus); the keep window partitions by group.  Pass
    ``with_census=True`` to observe dropped mega-cells — dropped
    members come out keep=1, so pipelines must check the census
    (same contract as near_duplicate_keep_list).
    """
    from .cc import connected_components
    from .dedup import _pin, capped_bucket_pairs

    if index is None:
        centroids, assigned = fixed_ivf_index(
            corpus, modulus=modulus, id_col=id_col, vec_col=vec_col
        )
    else:
        centroids, assigned = index
    # pinned: census + both join tiers + both verify sides + the
    # centroid_sim join all reference this table (dedup._pin rationale)
    assigned = _pin(assigned, True)
    keys = assigned.select(
        F.col("vid").alias("doc_id"),
        F.col("centroid_id").cast("string").alias("block_key"),
    )
    cand, dropped = capped_bucket_pairs(
        keys, max_bucket_size, salt_buckets, drop_factor, unique_key=True
    )
    dup_pairs = (
        cand.join(
            assigned.select(
                F.col("vid").alias("doc_id_1"), F.col("v").alias("v1")
            ),
            "doc_id_1",
        )
        .join(
            assigned.select(
                F.col("vid").alias("doc_id_2"), F.col("v").alias("v2")
            ),
            "doc_id_2",
        )
        .where(F.round(cosine(F.col("v1"), F.col("v2")), 6) >= threshold)
        .select("doc_id_1", "doc_id_2")
    )
    groups = connected_components(
        dup_pairs,
        vertices=assigned.select(F.col("vid").alias("doc_id")),
    ).select(
        F.col("doc_id").alias("vid"), F.col("cluster_id").alias("group_id")
    )
    # cosine to the OWN centroid: same round-6 value the assignment
    # ranked on (fixed_ivf_index), recomputed via one broadcast join
    sims = assigned.join(F.broadcast(centroids), "centroid_id").select(
        "vid",
        "centroid_id",
        F.round(cosine(F.col("v"), F.col("cv")), 6).alias("centroid_sim"),
    )
    w = Window.partitionBy("group_id").orderBy(
        F.col("centroid_sim").asc(), F.col("vid").asc()
    )
    out = (
        sims.join(groups, "vid")
        .select(
            F.col("vid").alias("vec_id"),
            "centroid_id",
            "group_id",
            "centroid_sim",
            (F.row_number().over(w) == 1).cast("int").alias("keep"),
        )
    )
    if with_census:
        empty = corpus.sparkSession.createDataFrame(
            [], "block_key string, block_size long"
        )
        return out, (dropped if dropped is not None else empty)
    return out


def sql_semdedup(
    table: str,
    threshold: float = 0.2,
    modulus: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of ``semdedup`` over a ``fixed_ivf_index``
    quantizer: assignment by argmax round-6 cosine (centroid_id
    tiebreak), within-cell pairs, recursive-CTE connected components
    (group = min member id), keep = argmin (centroid_sim, id) per
    group."""
    cos = "list_cosine_similarity"
    return f"""
        WITH RECURSIVE cent AS (
            SELECT CAST({id_col} AS BIGINT) AS centroid_id,
                   CAST({vec_col} AS DOUBLE[]) AS cv
            FROM {table} WHERE {id_col} % {modulus} = 0
        ),
        assigned AS (
            SELECT vid, v, centroid_id, centroid_sim FROM (
                SELECT e.{id_col} AS vid,
                       CAST(e.{vec_col} AS DOUBLE[]) AS v,
                       c.centroid_id,
                       round({cos}(
                           CAST(e.{vec_col} AS DOUBLE[]), c.cv), 6)
                           AS centroid_sim,
                       row_number() OVER (
                           PARTITION BY e.{id_col}
                           ORDER BY round({cos}(
                               CAST(e.{vec_col} AS DOUBLE[]), c.cv), 6) DESC,
                               c.centroid_id ASC) AS _r
                FROM {table} e, cent c
            ) WHERE _r = 1
        ),
        dup AS (
            SELECT a.vid AS s, b.vid AS d
            FROM assigned a JOIN assigned b
              ON a.centroid_id = b.centroid_id AND a.vid < b.vid
            WHERE round({cos}(a.v, b.v), 6) >= {threshold}
        ),
        edges AS (
            SELECT s, d FROM dup UNION SELECT d AS s, s AS d FROM dup
        ),
        reach(a, b) AS (
            SELECT vid, vid FROM assigned
            UNION
            SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s
        ),
        comp AS (SELECT a AS vid, min(b) AS group_id FROM reach GROUP BY a)
        SELECT a.vid AS vec_id, a.centroid_id, c.group_id, a.centroid_sim,
               CAST(CASE WHEN row_number() OVER (
                   PARTITION BY c.group_id
                   ORDER BY a.centroid_sim ASC, a.vid ASC
               ) = 1 THEN 1 ELSE 0 END AS INT) AS keep
        FROM assigned a JOIN comp c ON a.vid = c.vid
    """


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al., PAMI'11): the memory side of the
# 10^12-vector story.  IVF shrinks the SEARCH (probe a few cells); PQ
# shrinks the VECTORS (m byte-codes instead of d floats, ~32x for
# 64-dim float -> 8 codes), and ADC scores candidates from a per-query
# lookup table without ever touching raw vectors.  Deterministic
# variant: codebook entries are the subvectors of the k lowest-id
# corpus vectors (the fixed_ivf_index trick — KMeans-trained codebooks
# drop in behind the same contract), and ALL distances live on a
# 1e6-scaled integer grid, so sums are exact and order-independent in
# any engine (the value_specific_odds decimal-sum trick) — the whole
# encode/ADC path is DuckDB hash-gatable.
# ---------------------------------------------------------------------------


def _pq_elems(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    scale: float,
) -> DataFrame:
    """(vid, j, val): one row per vector element, values snapped to the
    integer grid ``round(x * scale)``.  ensure_width: the codebook
    join is a broadcast, and a broadcast probe side KEEPS the input
    partitioning — a one-split parquet corpus would run the whole
    |corpus| x k x dim expansion in a single task."""
    return ensure_width(corpus).select(
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(
            "j", "_x"
        ),
    ).select(
        "vid", "j", F.round(F.col("_x") * scale, 0).cast("long").alias("val")
    )


def pq_fixed_codebooks(
    corpus: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 1_000_000.0,
) -> DataFrame:
    """Element-level PQ codebooks: code c of every subspace = the
    subvector of the (c+1)-th lowest-id corpus vector.  Output:
    ``(code, j, cval)`` — tiny (k x dim rows), broadcast everywhere.
    """
    # top-k FIRST (TakeOrderedAndProject — per-partition heap, no
    # global sort), THEN rank: the single-partition window only ever
    # sees k rows, never the corpus
    low = (
        corpus.select(F.col(id_col).alias("vid"))
        .orderBy(F.col("vid").asc())
        .limit(k)
        .withColumn(
            "code",
            F.row_number().over(Window.orderBy(F.col("vid").asc())) - 1,
        )
    )
    return (
        _pq_elems(corpus, id_col, vec_col, scale)
        .join(low, "vid")
        .select("code", "j", F.col("val").alias("cval"))
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 1_000_000.0,
) -> DataFrame:
    """PQ encoding: per (vector, subspace), the code whose codebook
    subvector is L2-nearest on the integer grid (ties -> min code).
    Output: ``(vec_id, subspace, code)`` — the m-byte representation.

    Scale shape: one narrow posexplode, one broadcast join against the
    (k x dim)-row codebook, one map-combinable (vid, subspace, code)
    sum, one per-(vid, subspace) argmin window bounded by k.
    """
    subdim = dim // m
    elems = _pq_elems(corpus, id_col, vec_col, scale)
    d2 = (
        elems.join(F.broadcast(codebook), "j")
        .select(
            "vid",
            F.floor(F.col("j") / F.lit(float(subdim)))
            .cast("int")
            .alias("subspace"),
            "code",
            ((F.col("val") - F.col("cval"))
             * (F.col("val") - F.col("cval"))).alias("_sq"),
        )
        .groupBy("vid", "subspace", "code")
        .agg(F.sum("_sq").alias("_d"))
    )
    w = Window.partitionBy("vid", "subspace").orderBy(
        F.col("_d").asc(), F.col("code").asc()
    )
    return (
        d2.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(
            F.col("vid").alias(id_col), "subspace", "code"
        )
    )


def _pq_lut(
    queries: DataFrame,
    codebook: DataFrame,
    m: int,
    dim: int,
    id_col: str,
    vec_col: str,
    scale: float,
) -> DataFrame:
    """Per-query ADC lookup table: integer-grid L2 distance from each
    query subvector to every codebook entry — (queries x m x k) rows,
    broadcast-sized."""
    subdim = dim // m
    q_elems = _pq_elems(queries, id_col, vec_col, scale).withColumnRenamed(
        "vid", "query_id"
    )
    return (
        q_elems.join(F.broadcast(codebook), "j")
        .select(
            "query_id",
            F.floor(F.col("j") / F.lit(float(subdim)))
            .cast("int")
            .alias("subspace"),
            "code",
            ((F.col("val") - F.col("cval"))
             * (F.col("val") - F.col("cval"))).alias("_sq"),
        )
        .groupBy("query_id", "subspace", "code")
        .agg(F.sum("_sq").alias("_d"))
    )


def pq_topk(
    queries: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    k: int = 10,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 1_000_000.0,
) -> DataFrame:
    """ADC top-k (asymmetric distance computation): per query, a
    (subspace, code) lookup table of integer-grid L2 distances to every
    codebook entry; a candidate's approximate distance is the sum of m
    LUT hits on its codes — raw corpus vectors are never touched.
    Output: ``(query_id, neighbor_id, pq_dist, rank)``, self excluded.

    Scale shape: the LUT is (queries x m x k) rows — broadcast; the
    scoring join is keyed on (subspace, code) and aggregates m rows
    per (query, candidate); exact integer arithmetic end to end.
    """
    lut = _pq_lut(queries, codebook, m, dim, id_col, vec_col, scale)
    scored = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(lut), ["subspace", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("_d").alias("pq_dist"))
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "pq_dist", "rank")
    )


def pq_trained_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 1_000_000.0,
    seed: int = 42,
) -> DataFrame:
    """Production PQ codebooks: one KMeans per subspace over the
    corpus subvectors (pyspark.ml, fixed seed), centers snapped to the
    same integer grid the encoder uses — drop-in for
    :func:`pq_fixed_codebooks` (same ``(code, j, cval)`` contract, so
    encode/ADC are shared).  Not SQL-expressible (like
    :func:`ivf_index`) — the fixed variant carries the hash gate, this
    one the recall.

    At 10^12 vectors the fits run on a driver-bounded SAMPLE (k*1000
    rows per subspace trains a k-codebook fine — standard FAISS
    practice); the full corpus only ever sees the one-pass encode.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    subdim = dim // m
    # bounded slice: a k-codebook trains fine on ~k*1000 subvectors
    # (standard FAISS practice) — never iterate KMeans over the full
    # corpus m times
    base = (
        ensure_width(corpus)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .limit(k * 1000)
        .localCheckpoint(eager=True)
    )
    spark = corpus.sparkSession
    rows = []
    for s in range(m):
        sub = base.select(
            array_to_vector(
                F.slice(F.col("v"), s * subdim + 1, subdim)
            ).alias("_fv")
        )
        model = KMeans(
            k=k, seed=seed + s, featuresCol="_fv", predictionCol="_c"
        ).fit(sub)
        # deterministic code order: centers sorted lexicographically
        centers = sorted(
            [list(c) for c in model.clusterCenters()]
        )
        for code, c in enumerate(centers):
            for jj, x in enumerate(c):
                rows.append(
                    (code, s * subdim + jj, int(round(x * scale)))
                )
    return spark.createDataFrame(rows, "code int, j int, cval long")


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    modulus: int = 64,
    m: int = 8,
    dim: int = 64,
    codebook_k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 1_000_000.0,
    index: tuple[DataFrame, DataFrame] | None = None,
    codebook: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the full trillion-vector serving stack composed — IVF
    shrinks the SEARCH (each query scores only its ``nprobe`` probed
    cells), PQ shrinks the MEMORY (candidates are scored by ADC over
    m-byte codes) — at query time neither raw corpus vectors nor
    unprobed cells are ever touched.  The deterministic variant
    (fixed coarse quantizer + fixed codebooks + integer-grid ADC) is
    hash-gatable end to end; swap in ``ivf_index`` /
    ``pq_trained_codebooks`` behind the same ``index`` / ``codebook``
    arguments for the trained production path.

    Output: ``(query_id, neighbor_id, pq_dist, rank)``, self excluded.

    Scale shape: probes = queries x a broadcast centroid table; the
    candidate restriction is ONE equi-join on centroid_id against the
    (persisted, cell-partitioned) assignment; ADC is one vid equi-join
    attaching query ids to codes plus one broadcast LUT join keyed on
    (query_id, subspace, code).
    """
    centroids, assigned = (
        index
        if index is not None
        else fixed_ivf_index(corpus, modulus, id_col, vec_col)
    )
    cb = (
        codebook
        if codebook is not None
        else pq_fixed_codebooks(corpus, codebook_k, id_col, vec_col, scale)
    )
    cds = (
        codes
        if codes is not None
        else pq_encode(corpus, cb, m, dim, id_col, vec_col, scale)
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("centroid_sim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        F.broadcast(q)
        .crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "centroid_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias(
                "centroid_sim"
            ),
        )
        .withColumn("_pr", F.row_number().over(wc))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", "centroid_id")
    )
    cand = (
        probes.join(
            assigned.select(F.col("vid"), "centroid_id"), "centroid_id"
        )
        .select("query_id", F.col("vid").alias("neighbor_id"))
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    lut = _pq_lut(queries, cb, m, dim, id_col, vec_col, scale)
    scored = (
        cds.withColumnRenamed(id_col, "neighbor_id")
        .join(cand, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("_d").alias("pq_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "pq_dist", "rank")
    )

"""Connected components over a match-pair edge list (transitive closure).

The reference groups matches with a greedy single-pass Python loop that
can place one record in two groups (main_ldu_hw.py:24-61; its
validate_groups exists to detect exactly that defect).  We implement
the *documented* semantics — "if A==B and B==C then [A,B,C] are all the
same client" — as true connected components, fully in DataFrames
(SURVEY.md §2.8 G1).

Three algorithms behind one ``method="auto"`` dispatch:

  * ``driver-uf``: the small-graph finish of the classic two-level
    scheme — collect the (already rule-filtered, ~2% of candidate
    pairs) edge list and run union-find on the driver, then broadcast
    the doc->cluster mapping back.  Size-gated exactly like a
    broadcast hash join: it applies only when the edge list fits a
    driver collect (``SPARK_GRAFT_CC_DRIVER_MAX_EDGES``, default 5M).
    Replaces ~5 barrier-chained jobs *per star iteration* with one
    collect + one broadcast join — the star loop's per-job fixed cost
    is what makes CC scale inversely with core count on small graphs
    (measured 7.7s @ 8 cores -> 12.0s @ 32 for 336k edges).
  * ``alternating-star``: the large-star/small-star method of
    Kiveris et al., "Connected Components in MapReduce and Beyond"
    (SOCC'14) — O(log^2 n) rounds, robust to long chains; the
    published method the north star names, and the path taken for
    edge sets beyond the driver gate (at 10^12 docs the match-edge
    list is itself web-scale).
  * ``label-prop``: min-label propagation — O(diameter) rounds; fewer
    joins per round, ideal when clusters are small (entity duplicates
    rarely exceed dozens of members).

Cluster label = min member doc_id (deterministic, order-insensitive —
replaces the reference's arrival-order-dependent group identity).
doc_ids are compared as strings; for the ASCII ids this engine emits,
Python ``min`` (driver-uf) and Spark's binary string ordering (the
distributed methods) agree.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Driver-finish gates for method="auto": the edge list must clear BOTH
# a row-count cap and a BYTE cap before the driver union-find runs —
# a row count alone mis-sizes long doc_ids (5M pairs of 60-char ids is
# ~3GB of Python strings, not "a few hundred MB").  Bytes are estimated
# from the actual checkpointed edge payload (sum of id lengths,
# observed on the edge pin's own job) times a measured
# in-memory expansion factor for Python str objects + the union-find
# dict (~10x raw UTF-8 bytes).  Raise/lower via env on hosts with
# different driver memory.
DRIVER_UF_MAX_EDGES = int(
    os.environ.get("SPARK_GRAFT_CC_DRIVER_MAX_EDGES", "5000000")
)
DRIVER_UF_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_CC_DRIVER_MAX_BYTES", str(512 * 1024**2))
)
_PY_STR_EXPANSION = 10


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """(doc_id_1, doc_id_2) -> deduped (src, dst) with src < dst,
    self-loops dropped."""
    src = F.least(F.col("doc_id_1"), F.col("doc_id_2"))
    dst = F.greatest(F.col("doc_id_1"), F.col("doc_id_2"))
    return (
        edges.select(src.alias("src"), dst.alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _signature(edges: DataFrame) -> tuple[int, int]:
    """Order-insensitive edge-set signature: (count, xor of row
    hashes).  bit_xor never overflows — safe under ANSI mode."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.bit_xor(F.xxhash64(F.col("src"), F.col("dst"))), F.lit(0)
        ).alias("x"),
    ).collect()[0]
    return int(row["n"]), int(row["x"])


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    method: str = "auto",
    max_iter: int = 50,
) -> DataFrame:
    """edges(doc_id_1, doc_id_2) [+ vertices(doc_id)] ->
    clusters(doc_id, cluster_id) with cluster_id = min member doc_id.

    ``vertices`` adds singleton docs (cluster of themselves); without
    it only matched docs appear.  ``method="auto"`` picks the driver
    union-find finish when the edge list fits the collect gate, the
    distributed star loop otherwise.
    """
    # materialize the edge list once (callers may pass an expensive
    # unmaterialized plan — scoring chains), and let its count size
    # the shuffle width for EVERY stage of this operator
    # (canonicalization, the star loop, the final cluster assembly) —
    # the edge set is typically ~2% of the pair stage the session
    # width was sized for.  The count and the raw id bytes of the
    # auto gate are observed on the pin itself: no job of their own.
    c1, c2 = edges.columns[:2]
    pinned = Observation("cc_edges")
    edges = edges.observe(
        pinned,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(
                F.length(F.col(c1).cast("string"))
                + F.length(F.col(c2).cast("string"))
            ),
            F.lit(0),
        ).alias("raw_bytes"),
    ).localCheckpoint(eager=True)
    observed = pinned.get
    n_edges = observed["n"]
    if method == "auto":
        fits = (
            n_edges <= DRIVER_UF_MAX_EDGES
            and observed["raw_bytes"] * _PY_STR_EXPANSION
            <= DRIVER_UF_MAX_BYTES
        )
        method = "driver-uf" if fits else "alternating-star"
    if method == "driver-uf":
        return _driver_uf_clusters(edges, vertices)
    # The in-scope assembly checkpoint is size-gated (only matters
    # once assembly itself is heavy); the inter-star pin is NOT — it
    # wins at every measured size (15k edges: 8s vs 13.5s without;
    # 235k edges: 4.2s vs 7.8s per iteration), because the chained
    # small(large(cur)) plan re-evaluates the large-star subplan
    # through both symmetrize union branches.
    big = n_edges > 5_000_000
    with _loop_shuffle_partitions(edges, n_edges):
        e = _canonical_edges(edges)
        if method == "alternating-star":
            stars = _alternating_star(e, max_iter, pin_intermediate=True)
        elif method == "label-prop":
            stars = _label_prop(e, max_iter)
        else:
            raise ValueError(f"unknown CC method: {method}")

        members = stars.select(
            F.col("dst").alias("doc_id"), F.col("src").alias("cluster_id")
        )
        roots = stars.select(F.col("src").alias("doc_id")).distinct().withColumn(
            "cluster_id", F.col("doc_id")
        )
        clusters = members.union(roots).dropDuplicates(["doc_id"])

        if vertices is not None:
            clusters = (
                vertices.select("doc_id")
                .join(clusters, "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                        "cluster_id"
                    ),
                )
            )
        # big graphs: pin the assembled result while the scoped width
        # is active — callers run their actions later, outside this
        # scope, and a lazy plan would compile against the restored
        # session width.  Small graphs: skip the extra job; the
        # assembly joins over the checkpointed stars are cheap at any
        # width.
        if big:
            clusters = clusters.localCheckpoint(eager=True)
    return clusters


def _driver_uf_clusters(
    edges: DataFrame, vertices: DataFrame | None
) -> DataFrame:
    """Small-graph CC finish: one collect, union-find on the driver,
    one broadcast-mapping join back.

    Union-by-min keeps every tree's root equal to the component
    minimum (singleton root = itself = min; merging two min-rooted
    trees under min(ra, rb) preserves the invariant), so the emitted
    ``cluster_id`` is the min member doc_id — identical to the
    distributed methods.  Duplicate and self-loop edges are absorbed
    by the union, so the canonicalization/dedup shuffle is skipped
    entirely: the raw match edges are collected as-is.
    """
    spark = edges.sparkSession
    c1, c2 = edges.columns[0], edges.columns[1]
    pdf = edges.select(c1, c2).toPandas()

    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf[c1].values, pdf[c2].values):
        if a is None or b is None or a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    nodes = list(parent.keys())
    import pandas as pd

    mapping_pdf = pd.DataFrame(
        {"doc_id": nodes, "cluster_id": [find(x) for x in nodes]}
    )
    # id type follows the edge columns (string doc_ids, long vec_ids):
    # a hardcoded string schema breaks Arrow conversion for integer ids
    # (slow per-row fallback) and forces cast coercion into every
    # downstream join
    id_type = dict(edges.dtypes)[c1]
    mapping = spark.createDataFrame(
        mapping_pdf,
        schema=f"doc_id {id_type}, cluster_id {id_type}",
    )
    if len(mapping_pdf) < 4_000_000:
        mapping = F.broadcast(mapping)
    if vertices is None:
        # matched docs only: nodes with no union stay their own root
        roots = (
            edges.select(F.col(c1).alias("doc_id"))
            .union(edges.select(F.col(c2).alias("doc_id")))
            .dropDuplicates(["doc_id"])
        )
        return roots.join(mapping, "doc_id", "left").select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    return vertices.select("doc_id").join(mapping, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )


class _loop_shuffle_partitions:
    """Scope ``spark.sql.shuffle.partitions`` (and AQE) to an
    iterative loop, sized by the actual edge count.

    The match-edge set is typically ~2% of the candidate pairs, so the
    session-wide shuffle width (sized for the pair stage) gives each
    CC iteration dozens of near-empty tasks; with ~6 shuffles per
    round the scheduling overhead dominates and the loop runs SLOWER
    on more cores (measured 9.4s on 32 cores vs 5.0s on 8 for 126k
    edges).  ~250k edges per partition keeps tasks meaningful; the
    width grows back automatically for billion-edge inputs.  AQE is
    turned off inside the loop: per-iteration plans are small and
    regular, and AQE's per-shuffle stage materialization + re-planning
    is pure overhead at this size (the pair stage, where AQE's skew
    splitting matters, is outside the loop).
    """

    def __init__(self, df: DataFrame, n_rows: int):
        self.spark = df.sparkSession
        self.n_rows = n_rows

    def __enter__(self):
        self.saved = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.saved_aqe = self.spark.conf.get("spark.sql.adaptive.enabled")
        # floor: one task per core (the loop is a sequential barrier
        # chain, so idle cores are pure loss); ceiling: the session
        # width; in between: ~32k edges per task keeps tasks above
        # scheduling noise.
        cores = self.spark.sparkContext.defaultParallelism
        p = max(min(cores, int(self.saved)),
                min(int(self.saved), self.n_rows // 32_000 + 1))
        self.spark.conf.set("spark.sql.shuffle.partitions", str(p))
        if self.n_rows < 50_000_000:
            self.spark.conf.set("spark.sql.adaptive.enabled", "false")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.saved)
        self.spark.conf.set("spark.sql.adaptive.enabled", self.saved_aqe)


def _alternating_star(
    edges: DataFrame, max_iter: int, pin_intermediate: bool = True
) -> DataFrame:
    """Kiveris et al. large-star/small-star until the edge set is
    stable; returns star edges (src=root=min, dst=member).

    Callers are expected to scope shuffle width/AQE around this loop
    (``connected_components`` does); standalone use gets the session
    settings.  ``pin_intermediate`` checkpoints BETWEEN the stars:
    ``_symmetrize`` inside small-star references its input twice (the
    union branches), so an unmaterialized large-star subplan is
    evaluated twice per iteration — worth a checkpoint's job on big
    graphs (7.8s -> 4.2s per iteration at 235k edges), pure overhead
    on small ones where job fixed cost dominates compute."""
    cur = edges.localCheckpoint(eager=True)
    sig = _signature(cur)
    for _ in range(max_iter):
        cur = _large_star(cur)
        if pin_intermediate:
            cur = cur.localCheckpoint(eager=True)
        cur = _small_star(cur).localCheckpoint(eager=True)
        new_sig = _signature(cur)
        if new_sig == sig:
            break
        sig = new_sig
    return cur


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    m = min(N(u) ∪ {u})."""
    sym = _symmetrize(edges)
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    m = F.least(F.col("src"), F.col("mn"))
    out = (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(m.alias("src"), F.col("dst").alias("dst"))
    )
    return out.dropDuplicates(["src", "dst"])


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect u and all smaller neighbors to
    m = min(smaller-neighbors ∪ {u})."""
    sym = _symmetrize(edges)
    smaller = sym.where(F.col("dst") < F.col("src"))
    mins = smaller.groupBy("src").agg(F.min("dst").alias("mn"))
    joined = smaller.join(mins, "src")
    to_neighbors = joined.where(F.col("dst") != F.col("mn")).select(
        F.col("mn").alias("src"), F.col("dst").alias("dst")
    )
    to_self = mins.select(F.col("mn").alias("src"), F.col("src").alias("dst"))
    return to_neighbors.union(to_self).dropDuplicates(["src", "dst"])


def _label_prop(edges: DataFrame, max_iter: int) -> DataFrame:
    """Min-label propagation; returns (src=root, dst=member) rows for
    non-root members (same contract as _alternating_star)."""
    verts = (
        edges.select(F.col("src").alias("doc_id"))
        .union(edges.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    labels = verts.withColumn("label", F.col("doc_id")).localCheckpoint(
        eager=True
    )
    sym = _symmetrize(edges).localCheckpoint(eager=True)
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym["dst"] == labels["doc_id"])
            .select(sym["src"].alias("doc_id"), F.col("label"))
        )
        new_labels = (
            labels.select("doc_id", "label")
            .union(nbr)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.where(F.col("label") != F.col("doc_id")).select(
        F.col("label").alias("src"), F.col("doc_id").alias("dst")
    )


def edge_corroboration(edges: DataFrame, pin: bool = True) -> DataFrame:
    """Graph evidence per match edge: common-neighbor count and
    Adamic-Adar weight (sum of 1/ln(degree) over shared neighbors).

    Transitive closure treats every accepted edge as equally true; an
    edge corroborated by independent co-neighbors (both endpoints also
    matched the same third record) is far safer than a lone bridge
    between two dense groups — the lone-bridge edges are exactly the
    ones that chain distinct entities together, so this is the ranked
    worklist for clerical review (highest-risk first: n_common = 0).

    Input: ``edges(doc_id_1, doc_id_2)`` (undirected, one row per
    edge).  Output: one row per input edge with ``n_common`` and
    ``adamic_adar`` (0 when uncorroborated).

    Scale shape: symmetrize (narrow union), one degree groupBy, then
    the wedge join — edges x neighbors-of-endpoint-1 keyed on
    (doc_id_1), matched to neighbors-of-endpoint-2 on (doc_id_2,
    shared neighbor) — every shuffle keyed, bounded by max degree,
    the same triangle-counting shape GraphX/GraphFrames use.

    The edge set is referenced FIVE times (base, both union arms,
    both wedge sides); ``pin`` materializes it once so each reference
    plans against the materialized table instead of DUPLICATING the
    upstream logical plan — Catalyst optimization is super-linear in
    plan size, and five copies of a full linkage chain measured
    minutes of pure plan build.  Pass ``pin=False`` when ``edges``
    already comes from a store scan or a persisted frame.
    """
    from .dedup import _pin

    base = _pin(edges.select("doc_id_1", "doc_id_2"), pin)
    sym = base.union(
        base.select(
            F.col("doc_id_2").alias("doc_id_1"),
            F.col("doc_id_1").alias("doc_id_2"),
        )
    )
    deg = sym.groupBy("doc_id_1").agg(F.count("*").cast("double").alias("deg"))
    n1 = sym.select(
        F.col("doc_id_1").alias("doc_id_1"), F.col("doc_id_2").alias("nbr")
    )
    n2 = sym.select(
        F.col("doc_id_1").alias("doc_id_2"), F.col("doc_id_2").alias("nbr")
    )
    wedges = (
        base.join(n1, "doc_id_1")
        .join(n2, ["doc_id_2", "nbr"])
        .where((F.col("nbr") != F.col("doc_id_1")) & (F.col("nbr") != F.col("doc_id_2")))
        .join(deg.select(F.col("doc_id_1").alias("nbr"), "deg"), "nbr")
        .groupBy("doc_id_1", "doc_id_2")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.round(F.sum(1.0 / F.log("deg")), 6).alias("adamic_adar"),
        )
    )
    return base.join(wedges, ["doc_id_1", "doc_id_2"], "left").select(
        "doc_id_1",
        "doc_id_2",
        F.coalesce(F.col("n_common"), F.lit(0).cast("long")).alias("n_common"),
        F.coalesce(F.col("adamic_adar"), F.lit(0.0)).alias("adamic_adar"),
    )


def star_clusters(
    scored_edges: DataFrame,
    vertices: DataFrame | None = None,
    score_col: str = "score",
    pin: bool = True,
) -> DataFrame:
    """Star clustering over the scored match graph — the published
    single-pass alternative to transitive closure from the
    duplicate-detection clustering framework of Hassanzadeh, Chiang,
    Lee & Miller (VLDB'09, CENTER/star family).  CC is recall-maximal
    and chains entities through any single spurious edge; star
    clustering bounds every cluster at DEPTH ONE around a locally
    strongest center, trading recall on long chains for immunity to
    chaining — the other end of the precision/recall dial that
    :func:`repair_clusters` tunes edge-wise.

    Deterministic distributed variant (the paper's CENTER scans edges
    in one global similarity order, which serializes; this keeps its
    star shape with a parallel local rule):

      1. node strength = sum of incident edge scores;
      2. a node is a CENTER iff no neighbor has a greater
         ``(strength, doc_id)`` (total order — ties break by id);
      3. every non-center joins its best center neighbor (by
         ``(edge score, strength, doc_id)``); a non-center with no
         center neighbor stays a singleton (the parallel variant's
         uncovered case — CC would chain it through a non-center);
      4. isolated ``vertices`` are singletons.

    Returns the ``(doc_id, cluster_id)`` contract of
    :func:`connected_components`; every cluster is a star around its
    center (cluster_id = the center's doc_id).

    Scale shape: ONE symmetrized edge pass, a per-node strength
    groupBy, a neighbor-max groupBy, and one keyed join per step — no
    iteration, no recursion, every shuffle keyed on doc_id.
    """
    from .dedup import _pin

    # canonicalize keeping the score (duplicate pair rows keep the max
    # score — deterministic); self-loops dropped
    e = _pin(
        scored_edges.select(
            F.least("doc_id_1", "doc_id_2").alias("src"),
            F.greatest("doc_id_1", "doc_id_2").alias("dst"),
            F.col(score_col).alias("_s"),
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.max("_s").alias("_s")),
        pin,
    )
    sym = e.select(
        F.col("src").alias("node"), F.col("dst").alias("nbr"), "_s"
    ).unionByName(
        e.select(F.col("dst").alias("node"), F.col("src").alias("nbr"), "_s")
    )
    # strength rounded to 6 decimals: the sum's addition order differs
    # across partitions/engines, and the center rule COMPARES strengths
    # — rounding removes last-ULP order sensitivity
    strength = sym.groupBy("node").agg(
        F.round(F.sum("_s"), 6).alias("str")
    )
    # rank = the total order (strength, doc_id) as a comparable struct
    ranked = strength.select(
        "node", F.struct(F.col("str"), F.col("node")).alias("rank")
    )
    nbr_rank = sym.join(
        ranked.select(F.col("node").alias("nbr"), F.col("rank").alias("nbr_rank")),
        "nbr",
    )
    centers = (
        nbr_rank.groupBy("node")
        .agg(F.max("nbr_rank").alias("best_nbr_rank"))
        .join(ranked, "node")
        .select("node", (F.col("rank") > F.col("best_nbr_rank")).alias("is_center"))
    )
    # non-centers pick their best CENTER neighbor by (score, rank, id)
    assign = (
        sym.join(
            centers.select(
                F.col("node").alias("nbr"), F.col("is_center").alias("nbr_center")
            ),
            "nbr",
        )
        .where(F.col("nbr_center"))
        .join(
            ranked.select(
                F.col("node").alias("nbr"), F.col("rank").alias("nbr_rank")
            ),
            "nbr",
        )
        .groupBy("node")
        .agg(
            F.max(
                F.struct(F.col("_s"), F.col("nbr_rank"), F.col("nbr"))
            ).alias("best")
        )
        .select("node", F.col("best.nbr").alias("center_id"))
    )
    clustered = (
        centers.join(assign, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.when(F.col("is_center"), F.col("node"))
            .otherwise(F.coalesce(F.col("center_id"), F.col("node")))
            .alias("cluster_id"),
        )
    )
    if vertices is not None:
        clustered = (
            vertices.select("doc_id")
            .join(clustered, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                    "cluster_id"
                ),
            )
        )
    return clustered


def repair_clusters(
    scored_edges: DataFrame,
    vertices: DataFrame,
    min_common: int = 1,
    min_score: float | None = None,
    score_col: str = "score",
    method: str = "auto",
    pin: bool = True,
) -> DataFrame:
    """Corroboration-gated re-clustering — the REPAIR step after
    :func:`edge_corroboration` flags lone-bridge edges: recompute
    connected components keeping only edges that are corroborated by
    at least ``min_common`` shared neighbors OR score at least
    ``min_score`` (high-confidence edges stand on their own; weak
    uncorroborated bridges — the chain-merging failure mode of
    transitive closure — are dropped, splitting the chained clusters).

    Returns the same ``(doc_id, cluster_id)`` contract as
    :func:`connected_components` over all ``vertices``; docs that only
    hung on dropped bridges become their own singleton clusters.

    Scale shape: the corroboration wedge join (bounded by max degree)
    + one filter + the standard CC loop — nothing new materializes
    beyond the corroboration columns (the edge set itself is pinned
    once inside :func:`edge_corroboration`; see its docstring).
    """
    from .dedup import _pin

    scored_edges = _pin(
        scored_edges.select("doc_id_1", "doc_id_2", score_col), pin
    )
    corr = edge_corroboration(
        scored_edges.select("doc_id_1", "doc_id_2"), pin=False
    )
    e = scored_edges.join(corr, ["doc_id_1", "doc_id_2"])
    keep = F.col("n_common") >= F.lit(min_common)
    if min_score is not None:
        keep = keep | (F.col(score_col) >= F.lit(min_score))
    strong = e.where(keep).select("doc_id_1", "doc_id_2")
    return connected_components(strong, vertices=vertices, method=method)


def cannot_link_audit(
    edges: DataFrame,
    cannot: DataFrame,
    vertices: DataFrame,
    method: str = "auto",
    pin: bool = True,
) -> DataFrame:
    """Negative-evidence constrained clustering (the clerical-review
    feedback loop; cannot-link constraints in the Wagstaff et al.
    2001 sense applied to ER graphs): a reviewer marks candidate
    matches as NON-matches, the pipeline must honor them — drop every
    match edge that directly contradicts a constraint, re-run
    connected components, and AUDIT what transitivity does next:
    constrained pairs can remain co-clustered through other edge
    paths, and silently violating a reviewer decision is the one
    thing the feedback loop must never do.

    Input: ``edges(doc_id_1, doc_id_2)`` (ordered id1 < id2, the match
    contract), ``cannot(doc_id_1, doc_id_2)`` (same order),
    ``vertices(doc_id)``.  Output: ONE ROW PER CONSTRAINT —
    ``(doc_id_1, doc_id_2, violated, cluster_id_1, cluster_id_2)``
    where ``violated`` marks pairs still transitively connected after
    the direct edge is removed (these need deeper repair — e.g.
    :func:`repair_clusters` on the connecting path — or human
    re-review of the corroborating edges).

    Scale shape: one anti-join removes constrained edges, the
    standard CC pass re-clusters, and the audit is two keyed LEFT
    joins of the constraint table (bounded by review volume, tiny)
    against the cluster map — left, so a constraint naming a doc_id
    absent from ``vertices`` (stale id, removed doc) still gets its
    audit row (NULL cluster ids, ``violated`` false) instead of
    silently vanishing.  Nothing new materializes beyond CC itself.
    """
    from .dedup import _pin

    cannot = _pin(cannot.select("doc_id_1", "doc_id_2"), pin)
    kept = edges.select("doc_id_1", "doc_id_2").join(
        cannot, ["doc_id_1", "doc_id_2"], "left_anti"
    )
    clusters = connected_components(
        kept, vertices=vertices, method=method
    )
    c1 = clusters.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("cluster_id").alias("cluster_id_1"),
    )
    c2 = clusters.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("cluster_id").alias("cluster_id_2"),
    )
    return (
        cannot.join(c1, "doc_id_1", "left")
        .join(c2, "doc_id_2", "left")
        .select(
            "doc_id_1",
            "doc_id_2",
            F.coalesce(
                F.col("cluster_id_1") == F.col("cluster_id_2"),
                F.lit(False),
            ).alias("violated"),
            "cluster_id_1",
            "cluster_id_2",
        )
    )


def stable_cluster_ids(
    prev: DataFrame,
    curr: DataFrame,
    pin: bool = True,
    mint_prefix: str = "new:",
) -> DataFrame:
    """Persistent entity ids across linkage runs: CC labels are
    min-member doc_ids, so ANY membership change relabels a cluster —
    but downstream consumers (CRM keys, feature stores, the reference's
    review workbook re-opened next quarter) need yesterday's entity id
    to survive a re-run.  Standard id-carryover: assign each current
    cluster the previous cluster id it max-overlaps (Jaccard argmax by
    member count; ties -> min prev id), resolve SPLITS by letting only
    the current cluster with the largest claim keep a previous id
    (ties -> min curr id), and mint namespaced ``new:<cluster_id>`` ids
    for brand-new or losing clusters so carried and minted ids can
    never collide (``mint_prefix`` callers that re-feed minted ids as
    the next run's prev mapping must make the prefix unique per run —
    e.g. a batch sequence number — or a later mint can collide with a
    carried earlier mint).

    Input: ``prev(doc_id, cluster_id)`` from the earlier run,
    ``curr(doc_id, cluster_id)`` from this run.  Output: one row per
    CURRENT cluster — ``(cluster_id, stable_id, carried, overlap,
    n_members)``.

    Scale shape: one doc_id equi-join + a (curr, prev) count — the
    overlap table is bounded by cluster count, not pair count — then
    two row_number windows over it (argmax per curr, claim per prev).
    Nothing touches the pair set; at 10^12 docs the window frames are
    cluster-sized.
    """
    from .dedup import _pin

    ov = _pin(
        curr.select("doc_id", F.col("cluster_id").alias("curr_id"))
        .join(
            prev.select("doc_id", F.col("cluster_id").alias("prev_id")),
            "doc_id",
        )
        .groupBy("curr_id", "prev_id")
        .agg(F.count("*").alias("overlap")),
        pin,
    )
    w_best = Window.partitionBy("curr_id").orderBy(
        F.col("overlap").desc(), F.col("prev_id").asc()
    )
    w_claim = Window.partitionBy("prev_id").orderBy(
        F.col("overlap").desc(), F.col("curr_id").asc()
    )
    claimed = (
        ov.withColumn("rn", F.row_number().over(w_best))
        .where(F.col("rn") == 1)
        .withColumn("rk", F.row_number().over(w_claim))
    )
    sizes = curr.groupBy(
        F.col("cluster_id").alias("curr_id")
    ).agg(F.count("*").alias("n_members"))
    return sizes.join(claimed, "curr_id", "left").select(
        F.col("curr_id").alias("cluster_id"),
        F.when(F.col("rk") == 1, F.col("prev_id"))
        .otherwise(F.concat(F.lit(mint_prefix), F.col("curr_id")))
        .alias("stable_id"),
        F.coalesce(F.col("rk") == 1, F.lit(False)).alias("carried"),
        F.coalesce(F.col("overlap"), F.lit(0)).alias("overlap"),
        "n_members",
    )


def constrained_clusters(
    edges: DataFrame,
    must: DataFrame,
    cannot: DataFrame,
    vertices: DataFrame,
    method: str = "auto",
) -> DataFrame:
    """Constraint-folding re-cluster (the apply step of the clerical
    loop; :func:`cannot_link_audit` is the audit step): reviewer
    decisions enter as MUST-LINK pairs (confirmed matches the rules
    missed — union them into the edge set) and CANNOT-LINK pairs
    (rejected matches — anti-join them out), then connected components
    re-runs over the corrected graph.  Must-link wins the direct
    conflict (a pair in both lists stays linked: the union happens
    after the anti-join), and cannot-link remains advisory against
    transitivity — run the audit afterwards to catch pairs
    reconnected through other paths.

    Output: ``(doc_id, cluster_id)`` — same contract as
    :func:`connected_components`, drop-in for every downstream group
    op.  Scale shape: one anti-join + one union + the standard CC
    pass; constraint tables are bounded by review volume.
    """
    e = edges.select("doc_id_1", "doc_id_2")
    kept = e.join(
        cannot.select("doc_id_1", "doc_id_2"),
        ["doc_id_1", "doc_id_2"],
        "left_anti",
    ).unionByName(must.select("doc_id_1", "doc_id_2")).dropDuplicates(
        ["doc_id_1", "doc_id_2"]
    )
    return connected_components(kept, vertices=vertices, method=method)


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 8,
    damping: float = 0.85,
    id_col: str = "doc_id",
) -> DataFrame:
    """Damped PageRank over the undirected match graph — centrality
    for canonical-record selection (the cluster representative worth
    keeping is the one most corroborated by the edge structure, the
    per-node complement of :func:`edge_corroboration`'s per-edge
    score) and review prioritization (a high-rank node in a merged
    cluster is the chain's hub).

    Deterministic cross-engine contract: a FIXED iteration count and
    per-iteration rounding to 6 decimals, so Spark and a SQL engine
    walk bit-identical trajectories — float summation order can drift
    ranks by ~1e-16/step, which compounds over iterations unless each
    step is re-quantized.  Dangling mass is NOT redistributed (both
    implementations use the same simplification; isolated nodes hold
    the (1-d)/N floor).

    Scale shape: each iteration is one join (ranks x edges on src) +
    one groupBy(dst) sum — the contributions frame is |E| rows,
    partial-aggregated map-side; the edge/degree tables are
    checkpointed once, and the rank frame (|V| rows) is
    ``localCheckpoint``ed per iteration — persist alone keeps the
    logical plan, which compounds per iteration until plan
    COMPILATION itself OOMs (measured here at 6 iterations over the
    linkage chain); lineage truncation is the same discipline as the
    CC star loop above.

    Output: (doc_id, rank) for every node, rank rounded to 6.
    """
    und = (
        edges.select(F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst"))
        .union(
            edges.select(
                F.col("doc_id_2").alias("src"), F.col("doc_id_1").alias("dst")
            )
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.select(id_col).distinct().count()
    n_edges = und.count()
    base = round((1.0 - damping) / n_nodes, 6)
    with _loop_shuffle_partitions(und, n_edges):
        deg = und.groupBy("src").agg(
            F.count("*").cast("long").alias("deg")
        ).localCheckpoint(eager=True)

        ranks = (
            nodes.select(F.col(id_col).alias("node"))
            .distinct()
            .withColumn("rank", F.round(F.lit(1.0 / n_nodes), 6))
            .localCheckpoint(eager=True)
        )
        for _ in range(int(iterations)):
            contrib = (
                ranks.join(und, ranks["node"] == und["src"])
                .join(deg, "src")
                .select(
                    F.col("dst").alias("node"),
                    (F.col("rank") / F.col("deg")).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("mass"))
            )
            ranks = (
                ranks.select("node")
                .join(contrib, "node", "left")
                .select(
                    "node",
                    F.round(
                        F.lit(base)
                        + F.lit(float(damping))
                        * F.coalesce(F.col("mass"), F.lit(0.0)),
                        6,
                    ).alias("rank"),
                )
                .localCheckpoint(eager=True)
            )
    return ranks.select(F.col("node").alias(id_col), "rank")


def sql_pagerank(
    edges_sql: str,
    nodes_sql: str,
    iterations: int = 8,
    damping: float = 0.85,
) -> str:
    """DuckDB twin of :func:`pagerank` — the fixed iteration count
    unrolls into a chain of CTEs (it0..itN), each re-quantized to 6
    decimals exactly like the Spark loop.  ``edges_sql`` yields
    (doc_id_1, doc_id_2); ``nodes_sql`` yields doc_id."""
    d = float(damping)
    parts = [
        f"nodes AS MATERIALIZED (SELECT DISTINCT doc_id AS node FROM ({nodes_sql}))",
        f"e AS MATERIALIZED (SELECT doc_id_1, doc_id_2 FROM ({edges_sql}))",
        """und AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT doc_id_1 AS src, doc_id_2 AS dst FROM e
                UNION ALL
                SELECT doc_id_2 AS src, doc_id_1 AS dst FROM e
            ) WHERE src <> dst
        )""",
        "deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg"
        " FROM und GROUP BY 1)",
        "scal AS MATERIALIZED (SELECT count(*) AS n,"
        " round((1.0 - {d}) / count(*), 6) AS base FROM nodes)".format(d=d),
        "it0 AS MATERIALIZED (SELECT node,"
        " round(1.0 / (SELECT n FROM scal), 6) AS rank FROM nodes)",
    ]
    for i in range(int(iterations)):
        parts.append(f"""it{i + 1} AS MATERIALIZED (
            SELECT nodes.node,
                   round((SELECT base FROM scal)
                         + {d} * coalesce(m.mass, 0.0), 6) AS rank
            FROM nodes
            LEFT JOIN (
                SELECT und.dst AS node, sum(r.rank / deg.deg) AS mass
                FROM it{i} r
                JOIN und ON r.node = und.src
                JOIN deg ON und.src = deg.src
                GROUP BY 1
            ) m ON nodes.node = m.node
        )""")
    return (
        "WITH " + ",\n        ".join(parts)
        + f"\n        SELECT node AS doc_id, rank FROM it{int(iterations)}"
    )


def topk_edge_sparsify(
    scored_edges: DataFrame,
    k: int = 2,
    score_col: str = "score",
    mode: str = "mutual",
    pin: bool = True,
) -> DataFrame:
    """Degree-capped match graph: keep an edge iff it ranks in each
    endpoint's top-``k`` by ``(score DESC, neighbor id ASC)`` —
    ``mode="mutual"`` requires BOTH endpoints (true degree bound <= k),
    ``mode="union"`` either (keeps hub stars).

    The 10^12-doc safeguard for transitive closure: CC chains entities
    through ANY accepted edge, so one promiscuous record (a shared
    office address, a placeholder email) welds thousands of entities
    into a hairball whose CC iterations and downstream joins all key on
    one cluster_id.  Capping per-node degree BEFORE closure bounds both
    the cluster diameter growth rate and the per-key skew — the
    mutual-kNN graph construction from the dedup/clustering literature
    (cf. Hassanzadeh et al. VLDB'09's sparsification framing), sitting
    between full CC (recall-maximal) and star clustering (depth-one).

    Losslessness rule: mutual top-k keeps EVERY edge of a clique with
    <= k+1 members (each member ranks its <= k clique edges top-k), so
    pick k >= max expected true-cluster size - 1; smaller k trades
    many-copy entities' recall for the degree bound — deliberate.

    Input ``scored_edges(doc_id_1, doc_id_2, score_col)`` (one row per
    undirected pair); output the kept pairs, canonical orientation
    ``doc_id_1 < doc_id_2``.  Scale shape: symmetrize (narrow union),
    ONE window keyed on the endpoint (the same shuffle key the
    degree census uses — never the pair set squared), one groupBy on
    the canonical pair.  ``pin`` materializes the input once (it fans
    out into both union arms; see edge_corroboration).
    """
    from .dedup import _pin

    if mode not in ("mutual", "union"):
        raise ValueError(f"mode must be 'mutual' or 'union', got {mode!r}")
    base = _pin(
        scored_edges.select("doc_id_1", "doc_id_2", score_col), pin
    )
    sym = base.select(
        F.col("doc_id_1").alias("a"),
        F.col("doc_id_2").alias("b"),
        F.col(score_col).alias("_s"),
    ).union(
        base.select(
            F.col("doc_id_2").alias("a"),
            F.col("doc_id_1").alias("b"),
            F.col(score_col).alias("_s"),
        )
    )
    w = Window.partitionBy("a").orderBy(
        F.col("_s").desc(), F.col("b").asc()
    )
    kept = (
        sym.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(k))
        .select(
            F.least("a", "b").alias("doc_id_1"),
            F.greatest("a", "b").alias("doc_id_2"),
        )
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count("*").alias("_n"))
    )
    need = 2 if mode == "mutual" else 1
    return kept.where(F.col("_n") >= need).select("doc_id_1", "doc_id_2")


def sql_topk_edge_sparsify(
    edges_select: str, k: int = 2, score_col: str = "score",
    mode: str = "mutual",
) -> str:
    """DuckDB twin of :func:`topk_edge_sparsify` as a CTE fragment:
    ``edges_select`` must yield (doc_id_1, doc_id_2, score_col).
    Returns SQL selecting the kept canonical pairs."""
    if mode not in ("mutual", "union"):
        raise ValueError(f"mode must be 'mutual' or 'union', got {mode!r}")
    need = 2 if mode == "mutual" else 1
    return f"""
        SELECT doc_id_1, doc_id_2 FROM (
            SELECT least(a, b) AS doc_id_1, greatest(a, b) AS doc_id_2,
                   count(*) AS _n
            FROM (
                SELECT a, b,
                       row_number() OVER (
                           PARTITION BY a ORDER BY _s DESC, b ASC
                       ) AS _rn
                FROM (
                    SELECT doc_id_1 AS a, doc_id_2 AS b,
                           {score_col} AS _s FROM ({edges_select})
                    UNION ALL
                    SELECT doc_id_2 AS a, doc_id_1 AS b,
                           {score_col} AS _s FROM ({edges_select})
                )
            )
            WHERE _rn <= {int(k)}
            GROUP BY least(a, b), greatest(a, b)
        )
        WHERE _n >= {need}
    """

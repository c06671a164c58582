"""ANN operators: IVF exactness/recall anchors and LSH recall sanity.

IVF's KMeans quantizer has no DuckDB twin, so these tests are its
correctness gate (the driver entry is rows-only): at
``nprobe == n_centroids`` every cell is probed and the result must
EQUAL brute force; at partial probe the measured recall against brute
force must clear a floor.
"""

import pytest
from pyspark.sql import functions as F

from record_linkage_ldu_spark.operators.ann import (
    auto_nbits,
    cosine_topk,
    embedding_near_duplicates,
    ivf_index,
    ivf_topk,
    load_ivf_index,
    lsh_topk,
    save_ivf_index,
)

SF_DIR = "/root/testdata/sf0.001"
K = 5
N_QUERIES = 20


@pytest.fixture(scope="module")
def embeddings(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def queries(embeddings):
    return embeddings.where(F.col("vec_id") < N_QUERIES)


@pytest.fixture(scope="module")
def exact(spark, embeddings, queries):
    return {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(embeddings, queries, k=K).collect()
    }


def test_ivf_full_probe_equals_brute_force(spark, embeddings, queries, exact):
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(
            embeddings, queries, k=K, n_centroids=8, nprobe=8
        ).collect()
    }
    assert got == exact


def test_ivf_partial_probe_recall(spark, embeddings, queries, exact):
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(
            embeddings, queries, k=K, n_centroids=8, nprobe=4
        ).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, recall
    # every returned neighbor is a true corpus member with a sane rank
    assert all(q < N_QUERIES for q, _ in got)


def test_ivf_prebuilt_index_probe_matches_inline_build(
    spark, embeddings, queries, tmp_path
):
    """The production split: build once (``ivf_index``), persist
    (``save_ivf_index``), probe against the loaded index — results
    must equal the convenience inline-build path (same seed)."""
    inline = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivf_topk(
            embeddings, queries, k=K, n_centroids=8, nprobe=4
        ).collect()
    }
    centroids, assigned = ivf_index(embeddings, n_centroids=8)
    save_ivf_index(centroids, assigned, str(tmp_path / "ivf"))
    loaded = load_ivf_index(spark, str(tmp_path / "ivf"))
    probed = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivf_topk(
            embeddings, queries, k=K, nprobe=4, index=loaded
        ).collect()
    }
    assert probed == inline


def _mega_bucket_corpus(spark, n_mega=60, n_noise=40, dim=8):
    """n_mega vectors whose dims are ALL positive (one sign bucket — a
    planted mega-bucket) + noise vectors with mixed signs.  Mega
    vectors come in near-duplicate pairs (i, i+1 scaled) so the salt
    tier has pairs to preserve."""
    rows = []
    for i in range(n_mega):
        base = [(1.0 + 0.01 * ((i // 2) * dim + j)) for j in range(dim)]
        scale = 1.0 if i % 2 == 0 else 1.05
        rows.append((i, [v * scale for v in base]))
    for i in range(n_noise):
        rows.append(
            (
                1000 + i,
                [(1.0 if (i >> j) & 1 else -1.0) * (1 + 0.1 * j) for j in range(dim)],
            )
        )
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_near_dups_salt_tier_is_lossless(spark):
    """The planted all-positive mega-bucket (60 docs) exceeds a cap of
    10 but stays under the 10*16 drop ceiling -> triangle-salted tier.
    Pairs (and cosines) must equal the untiered join bit-for-bit."""
    corpus = _mega_bucket_corpus(spark)
    plain = embedding_near_duplicates(
        corpus, threshold=0.9, nbits=8, max_bucket_size=None
    )
    capped = embedding_near_duplicates(
        corpus, threshold=0.9, nbits=8, max_bucket_size=10, salt_buckets=4
    )
    pv = {tuple(r) for r in plain.collect()}
    cv = {tuple(r) for r in capped.collect()}
    assert pv == cv
    assert len(pv) >= 30  # the 30 planted near-dup pairs are in there


def test_embedding_near_dups_drop_tier_reports_census(spark):
    """Beyond the drop ceiling the mega-bucket's pairs are dropped —
    and the census must SAY so (the dropped bucket is the most
    duplicated content)."""
    corpus = _mega_bucket_corpus(spark)
    pairs, dropped = embedding_near_duplicates(
        corpus, threshold=0.9, nbits=8, max_bucket_size=4,
        salt_buckets=2, drop_factor=3, with_census=True,
    )
    drops = dropped.collect()
    assert len(drops) == 1 and drops[0]["block_size"] == 60
    assert drops[0]["block_key"] == "1" * 8
    # noise buckets are small; no same-bucket noise near-dups planted
    assert not any(r["vec_id_1"] < 1000 for r in pairs.collect())


def test_lsh_topk_tiered_matches_plain(spark, embeddings):
    tiered = {
        tuple(r)
        for r in lsh_topk(embeddings, k=3, nbits=8).collect()
    }
    plain = {
        tuple(r)
        for r in lsh_topk(
            embeddings, k=3, nbits=8, max_bucket_size=None
        ).collect()
    }
    assert tiered == plain


def test_multiprobe_raises_recall_across_sign_jitter(spark):
    """Plant near-duplicates that differ in EXACTLY ONE sign bit (one
    dim nudged across zero): single-probe sign-LSH cannot pair them
    (different buckets); 1-bit-flip multi-probe must find them all."""
    dim = 8
    rows = []
    for i in range(20):
        base = [1.0 + 0.05 * (i * dim + j) for j in range(dim)]
        jit = list(base)
        jit[i % dim] = -1e-6  # flips exactly one sign bit
        rows.append((i, base))
        rows.append((1000 + i, jit))
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    single = embedding_near_duplicates(
        corpus, threshold=0.5, nbits=dim, multiprobe=False
    )
    multi = embedding_near_duplicates(
        corpus, threshold=0.5, nbits=dim, multiprobe=True
    )
    single_pairs = {(r["vec_id_1"], r["vec_id_2"]) for r in single.collect()}
    multi_pairs = {(r["vec_id_1"], r["vec_id_2"]) for r in multi.collect()}
    planted = {(i, 1000 + i) for i in range(20)}
    assert not (single_pairs & planted)
    assert planted <= multi_pairs
    assert single_pairs <= multi_pairs


def test_random_hyperplanes_deterministic_and_find_planted(spark, embeddings):
    """The random-hyperplane family: (1) planes are deterministic in
    (nbits, dim, seed); (2) scaled copies (same direction) land in the
    same bucket under ANY plane set and retrieve their original at
    rank 1 — the same near-duplicate-grade property as axis signs."""
    from record_linkage_ldu_spark.operators.ann import random_hyperplanes

    p1 = random_hyperplanes(8, 64)
    p2 = random_hyperplanes(8, 64)
    assert p1 == p2
    assert p1 != random_hyperplanes(8, 64, seed="other")
    assert all(-1.0 <= c < 1.0 for row in p1 for c in row)

    n_planted = 10
    planted = embeddings.where(F.col("vec_id") < n_planted).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: (x * F.lit(1.1)).cast("float")
        ).alias("embedding"),
    )
    corpus = embeddings.select("vec_id", "embedding").unionByName(planted)
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in lsh_topk(corpus, k=1, planes=p1).collect()
        if r["query_id"] >= 100_000
    }
    assert len(top1) == n_planted
    assert all(top1[100_000 + i] == i for i in range(n_planted)), top1


def test_auto_nbits_scales_with_corpus():
    assert auto_nbits(100) == 8
    assert auto_nbits(500_000) == 10
    assert auto_nbits(10**9) == 21
    assert auto_nbits(10**13) == 24  # clamped


def test_lsh_topk_finds_planted_near_duplicates(spark, embeddings):
    """Sign-LSH is a near-duplicate-grade filter: generic top-k
    neighbors of near-random vectors rarely share all sign bits
    (measured recall ~0.02 vs brute force — a property of the data,
    not a bug), but a true near-duplicate agrees on every axis sign.
    Plant scaled copies (same direction -> cosine 1.0, same bucket)
    and assert each copy retrieves its original at rank 1."""
    n_planted = 20
    planted = embeddings.where(F.col("vec_id") < n_planted).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: (x * F.lit(1.1)).cast("float")
        ).alias("embedding"),
    )
    corpus = embeddings.select("vec_id", "embedding").unionByName(planted)
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in lsh_topk(corpus, k=1, nbits=8).collect()
        if r["query_id"] >= 100_000
    }
    assert len(top1) == n_planted
    assert all(top1[100_000 + i] == i for i in range(n_planted)), top1


def test_fixed_ivf_full_probe_is_exact(spark, embeddings):
    """fixed_ivf_index + full probe == brute force (same anchor as the
    KMeans path), and the deterministic assignment covers every
    vector exactly once."""
    from record_linkage_ldu_spark.operators import ann

    emb = embeddings
    index = ann.fixed_ivf_index(emb, modulus=16)
    centroids, assigned = index
    n = emb.count()
    assert assigned.count() == n
    assert assigned.select("vid").distinct().count() == n
    queries = emb.where(F.col("vec_id") % 25 == 0)
    full = ann.ivf_topk(
        emb, queries, k=3, nprobe=centroids.count(), index=index
    )
    brute = ann.cosine_topk(emb, queries, k=3)
    a = {tuple(r) for r in full.collect()}
    b = {tuple(r) for r in brute.collect()}
    assert a == b


def test_semdedup_planted_groups_keep_centroid_outlier(spark):
    """SemDeDup fixture with known cells and duplicate groups: vectors
    point in two well-separated directions (two cells, ids 0 and 10
    are the quantizer centroids at modulus=10); within cell 0 a
    planted clone pair must form one group whose keep is the member
    with the LOWER cosine to the centroid (the paper's keep policy),
    and singletons keep themselves."""
    from record_linkage_ldu_spark.operators.ann import semdedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),      # centroid of cell 0
        (1, [0.99, 0.14, 0.0, 0.0]),    # clone A (closer to centroid)
        (2, [0.95, 0.31, 0.0, 0.0]),    # clone B (farther -> keeper)
        (3, [0.6, -0.8, 0.0, 0.0]),     # cell-0 singleton
        (10, [0.0, 0.0, 1.0, 0.0]),     # centroid of cell 1
        (11, [0.0, 0.0, 0.97, 0.24]),   # near-clone of 10
        (12, [0.0, 0.0, 0.2, 0.97]),    # cell-1 singleton (low cos)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = (
        semdedup(df, threshold=0.9, modulus=10)
        .orderBy("vec_id")
        .toPandas()
        .set_index("vec_id")
    )
    # every row present; exactly one keep per group
    assert len(out) == len(rows)
    per_group = out.groupby("group_id")["keep"].sum()
    assert (per_group == 1).all()
    # planted group {1, 2}: cos(1,2) ~= 0.984 >= 0.9, both below the
    # threshold vs the centroid itself? cos(0,1) ~= 0.99 >= 0.9 too —
    # so 0,1,2 chain into ONE group; keeper = lowest centroid_sim = 2
    g = out.loc[[0, 1, 2], "group_id"]
    assert g.nunique() == 1
    assert out.loc[2, "keep"] == 1 and out.loc[0, "keep"] == 0
    # cell-1 pair {10, 11}: keeper is 11 (centroid_sim < 1.0)
    assert out.loc[11, "keep"] == 1 and out.loc[10, "keep"] == 0
    # singletons keep themselves, assigned to the right cells
    assert out.loc[3, "keep"] == 1 and out.loc[12, "keep"] == 1
    assert out.loc[3, "centroid_id"] == 0
    assert out.loc[12, "centroid_id"] == 10


def test_semdedup_tiered_equals_plain_cell_join(spark, embeddings):
    """The census/cap/salt tiers are lossless on real data: semdedup
    with tiny caps (forcing the salt tier) equals the default run
    row-for-row, and the dropped census is empty below the ceiling."""
    from record_linkage_ldu_spark.operators.ann import semdedup

    base = semdedup(embeddings, threshold=0.2, modulus=64).toPandas()
    salted, census = semdedup(
        embeddings, threshold=0.2, modulus=64,
        max_bucket_size=8, drop_factor=10**6, with_census=True,
    )
    salted = salted.toPandas()
    assert census.count() == 0
    key = ["vec_id", "centroid_id", "group_id", "keep"]
    a = base[key].sort_values("vec_id").reset_index(drop=True)
    b = salted[key].sort_values("vec_id").reset_index(drop=True)
    assert a.equals(b)
    assert len(a) == embeddings.count()


def test_fixed_ivf_empty_centroids_raises(spark):
    """ADVICE r3: an empty centroid set made ivf_topk/semdedup return
    empty output with no error; it must raise instead."""
    import pytest as _pytest

    from record_linkage_ldu_spark.operators.ann import fixed_ivf_index

    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (3, [0.3, 0.4])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="no corpus id is divisible"):
        fixed_ivf_index(df, modulus=2)


def test_fixed_ivf_centroid_id_is_long(spark, embeddings):
    """centroid_id stays long: ids >= 2^31 must not overflow/collide."""
    from record_linkage_ldu_spark.operators.ann import fixed_ivf_index

    big = embeddings.select(
        (F.col("vec_id") + F.lit(2**32)).alias("vec_id"), "embedding"
    )
    centroids, assigned = fixed_ivf_index(big, modulus=64)
    assert dict(centroids.dtypes)["centroid_id"] == "bigint"
    ids = [r["centroid_id"] for r in centroids.collect()]
    assert ids and all(i >= 2**32 for i in ids)


def test_pq_lossless_when_codebook_covers_corpus(spark):
    """If every corpus subvector appears in the codebook (vectors
    built from the first-k rows' subvectors), ADC distances equal
    exact integer-grid L2 distances — rank order matches brute force
    exactly."""
    import itertools

    from record_linkage_ldu_spark.operators.ann import (
        pq_encode,
        pq_fixed_codebooks,
        pq_topk,
    )

    dim, m, k = 8, 4, 4  # subdim 2
    # base alphabet: 4 subvector values per subspace, from vecs 0..3
    alpha = [[float(c + 1) * (s + 1) for _ in range(2)]
             for c, s in itertools.product(range(4), range(4))]
    base = [
        sum((alpha[c * 4 + s] for s in range(4)), [])
        for c in range(4)
    ]
    # extra vectors remix the alphabet -> still exactly encodable
    extra = [
        sum((alpha[((c + s) % 4) * 4 + s] for s in range(4)), [])
        for c in range(4)
    ]
    rows = [(i, v) for i, v in enumerate(base + extra)]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cb = pq_fixed_codebooks(vecs, k=k)
    codes = pq_encode(vecs, cb, m=m, dim=dim)
    assert codes.count() == len(rows) * m
    out = pq_topk(vecs, cb, codes, k=3, m=m, dim=dim).collect()

    # brute-force integer-grid L2 on the driver
    def grid(v):
        return [round(x * 1_000_000.0) for x in v]

    want = {}
    for qid, qv in rows:
        dists = sorted(
            (sum((a - b) ** 2 for a, b in zip(grid(qv), grid(nv))), nid)
            for nid, nv in rows if nid != qid
        )[:3]
        want[qid] = [(nid, d) for d, nid in dists]
    got = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["pq_dist"])
        )
    assert got == want


def test_pq_recall_on_real_embeddings(spark):
    """Quantized top-10 keeps usable recall vs exact integer-grid L2
    top-10 on the synthetic embedding table."""
    from record_linkage_ldu_spark.operators.ann import (
        pq_encode,
        pq_fixed_codebooks,
        pq_topk,
    )
    from pyspark.sql import functions as F

    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = vecs.where(F.col("vec_id") % 100 == 0)
    cb = pq_fixed_codebooks(vecs, k=64)
    codes = pq_encode(vecs, cb, m=32)
    approx = pq_topk(queries, cb, codes, k=10, m=32)

    rows = [(r["vec_id"], [float(x) for x in r["embedding"]])
            for r in vecs.collect()]
    grid_rows = [
        (vid, [round(x * 1_000_000.0) for x in v]) for vid, v in rows
    ]
    exact = {}
    for qid, qv in grid_rows:
        if qid % 100 != 0:
            continue
        top = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, nv)), nid)
            for nid, nv in grid_rows if nid != qid
        )[:10]
        exact[qid] = {nid for _, nid in top}
    hits = total = 0
    for r in approx.collect():
        total += 1
        hits += r["neighbor_id"] in exact[r["query_id"]]
    assert total == len(exact) * 10
    recall = hits / total
    # fixed (untrained) codebook at m=32/k=64 measured 0.68 here;
    # trained codebooks push higher — the floor guards the plumbing
    assert recall >= 0.5, recall


def test_pq_trained_codebooks_beat_fixed(spark):
    """KMeans-trained codebooks share the encode/ADC contract and
    reach at least the fixed codebook's recall at the same budget."""
    from record_linkage_ldu_spark.operators.ann import (
        pq_encode,
        pq_fixed_codebooks,
        pq_topk,
        pq_trained_codebooks,
    )
    from pyspark.sql import functions as F

    vecs = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).localCheckpoint(eager=True)
    queries = vecs.where(F.col("vec_id") % 100 == 0)
    rows = [(r["vec_id"], [round(float(x) * 1e6) for x in r["embedding"]])
            for r in vecs.collect()]
    exact = {}
    for qid, qv in rows:
        if qid % 100:
            continue
        top = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, nv)), nid)
            for nid, nv in rows if nid != qid
        )[:10]
        exact[qid] = {nid for _, nid in top}

    def recall(cb, m):
        codes = pq_encode(vecs, cb, m=m)
        out = pq_topk(queries, cb, codes, k=10, m=m).collect()
        return sum(r["neighbor_id"] in exact[r["query_id"]] for r in out) / len(out)

    m, k = 8, 16
    r_fixed = recall(pq_fixed_codebooks(vecs, k=k), m)
    r_trained = recall(pq_trained_codebooks(vecs, m=m, k=k), m)
    assert r_trained >= r_fixed, (r_trained, r_fixed)
    assert r_trained >= 0.3, r_trained


def test_ivfpq_full_probe_equals_pq_topk(spark):
    """nprobe = all cells degenerates IVF-PQ to plain ADC: identical
    output to pq_topk (the anchor identity); low nprobe returns a
    subset drawn from probed cells only."""
    from record_linkage_ldu_spark.operators.ann import (
        fixed_ivf_index,
        ivfpq_topk,
        pq_encode,
        pq_fixed_codebooks,
        pq_topk,
    )
    from pyspark.sql import functions as F

    vecs = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).localCheckpoint(eager=True)
    queries = vecs.where(F.col("vec_id") % 100 == 0)
    cb = pq_fixed_codebooks(vecs).localCheckpoint(eager=True)
    codes = pq_encode(vecs, cb).localCheckpoint(eager=True)
    index = fixed_ivf_index(vecs, modulus=64)
    index = (index[0].localCheckpoint(eager=True),
             index[1].localCheckpoint(eager=True))
    n_cells = index[0].count()

    full = {
        tuple(r)
        for r in ivfpq_topk(
            vecs, queries, nprobe=n_cells, index=index,
            codebook=cb, codes=codes,
        ).collect()
    }
    plain = {tuple(r) for r in pq_topk(queries, cb, codes, k=10).collect()}
    assert full == plain

    narrow = ivfpq_topk(
        vecs, queries, nprobe=1, index=index, codebook=cb, codes=codes
    )
    rows = narrow.collect()
    assert 0 < len(rows) <= len(plain)
    # every narrow neighbor lives in the query's single probed cell
    probed = {
        (r["query_id"], r["neighbor_id"]) for r in rows
    }
    assign = {r["vid"]: r["centroid_id"] for r in index[1].collect()}
    qcell = {}
    for q, n in probed:
        qcell.setdefault(q, set()).add(assign[n])
    assert all(len(cells) == 1 for cells in qcell.values())


def test_trained_pq_recall_beats_fixed_and_clears_floor(spark):
    """VERDICT r4 item 7: the TRAINED serving stack (committed KMeans
    artifacts from tools/train_ann_artifacts.py) is observability-
    gated, not just built.  At sf0.01 (the driver's correctness SF)
    trained-PQ recall@5 vs the exact cosine truth must clear 0.7 and
    beat the untrained fixed-codebook config at the same m, and the
    IVF-PQ composition must stay within its probe ceiling."""
    import os

    import __spark_entry__ as entrymod
    from record_linkage_ldu_spark.operators import ann

    sf = "/root/testdata/sf0.01"
    row = entrymod.queries()["ann_recall"](spark, sf).collect()[0]
    assert row["pq_recall_at5"] >= 0.7, row
    # composition sanity: IVF-PQ cannot beat its own coarse probe
    # ceiling, and must retain most of it (PQ quality is high)
    assert row["ivfpq_recall_at5"] <= row["ivf_recall_at5"] + 1e-9
    assert row["ivfpq_recall_at5"] >= 0.5 * row["ivf_recall_at5"]
    # trained codebooks beat the untrained fixed ones at the same m
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    queries = emb.where(F.col("vec_id") % 50 == 0)
    truth = ann.cosine_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    fixed_cb = ann.pq_fixed_codebooks(emb, k=64)
    fixed = ann.pq_topk(
        queries, fixed_cb, ann.pq_encode(emb, fixed_cb, m=32), k=5, m=32
    )
    n_truth = truth.count()
    n_fixed = truth.join(
        fixed.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    ).count()
    assert row["pq_recall_at5"] >= n_fixed / n_truth

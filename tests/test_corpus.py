"""Corpus-pipeline operators (operators/corpus.py): composed cleaning
filter, deterministic stratified sampling, token-budget sharding,
benchmark decontamination.

The oracle twins are hash-gated by tools/check_oracle.py; these tests pin the
SEMANTIC invariants the hashes can't see (precedence, determinism,
budget bounds, contamination guarantees, scale-path equivalences).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from record_linkage_ldu_spark.operators import corpus


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    # 20 English docs long enough to pass every gate; texts mostly
    # UNIQUE per doc (shared tokens = the stopword prefix only) so the
    # near-dup stage doesn't merge the whole fixture into one family
    for i in range(20):
        uniq = " ".join(f"w{i}x{j}" for j in range(15))
        rows.append((i, f"the and of to is it was {uniq}", "en", "s0"))
    # planted near-dup pair: doc 15 = doc 14 plus one token (high
    # Jaccard, not byte-equal — the MinHash stage's job, not exact's)
    rows[15] = (15, rows[14][1] + " extra", "en", "s0")
    # a verbatim duplicate of doc 3 (higher id loses)
    rows.append((100, rows[3][1], "en", "s0"))
    # short doc (still English-identifiable: markers present)
    rows.append((101, "the dog is here", "en", "s0"))
    # non-english (french markers)
    rows.append(
        (102, "le chat et le chien sont dans la maison avec les enfants "
         "et ils sont tous dans le jardin pour la joie de tous les amis",
         "fr", "s1")
    )
    # junk: English-identified (one marker) but fails every quality
    # band — >20k chars, ~0 alpha ratio, mean token length > 12,
    # stopword ratio ~0
    rows.append((103, "the " + "0123456789012345 " * 1200, "xx", "s1"))
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).cache()


def test_corpus_filter_precedence_and_keep(docs):
    out = corpus.corpus_filter_flags(
        docs, min_tokens=20, min_quality=0.3
    ).toPandas().set_index("doc_id")
    # duplicate beats every other reason; the LOWER id is canonical
    assert out.loc[100, "reject_reason"] == "duplicate"
    assert out.loc[3, "reject_reason"] is None and out.loc[3, "keep"] == 1
    assert out.loc[101, "reject_reason"] == "too_short"
    assert out.loc[102, "reject_reason"] == "wrong_lang"
    assert out.loc[103, "reject_reason"] == "low_quality"
    # keep flag is exactly reason-is-null
    assert ((out["reject_reason"].isnull()) == (out["keep"] == 1)).all()
    # every input row flagged exactly once
    assert len(out) == docs.count()


def test_corpus_filter_null_text_not_dropped(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "the cat and the dog sat with all of the animals "
          "and they were very happy together in the big warm house today")],
        "doc_id long, text string",
    )
    out = corpus.corpus_filter_flags(df, min_tokens=5).toPandas().set_index(
        "doc_id"
    )
    # the null-text row flows through with keep=0 (not silently lost)
    assert len(out) == 2
    assert out.loc[1, "keep"] == 0 and out.loc[1, "reject_reason"] is not None
    assert out.loc[2, "keep"] == 1


def test_stratified_sample_deterministic_and_rate(spark):
    n = 4000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("fr").alias("lang"),
    )
    a = corpus.stratified_sample(df, rates={"en": 0.5, "fr": 0.1})
    b = corpus.stratified_sample(df, rates={"en": 0.5, "fr": 0.1})
    pa = a.orderBy("doc_id").toPandas()
    # same seed -> identical selection (no RNG state anywhere)
    assert pa.equals(b.orderBy("doc_id").toPandas())
    got_en = (pa["stratum"] == "en").sum() / (n / 2)
    got_fr = (pa["stratum"] == "fr").sum() / (n / 2)
    assert abs(got_en - 0.5) < 0.05
    assert abs(got_fr - 0.1) < 0.03
    # a different seed reselects
    c = corpus.stratified_sample(df, rates={"en": 0.5, "fr": 0.1}, seed="x")
    assert not pa.equals(c.orderBy("doc_id").toPandas())
    # the xxhash64 production knob: same rates within tolerance, still
    # deterministic (equal to itself on a rerun)
    x1 = corpus.stratified_sample(
        df, rates={"en": 0.5, "fr": 0.1}, hash_fn="xxhash64"
    ).orderBy("doc_id").toPandas()
    x2 = corpus.stratified_sample(
        df, rates={"en": 0.5, "fr": 0.1}, hash_fn="xxhash64"
    ).orderBy("doc_id").toPandas()
    assert x1.equals(x2)
    assert abs((x1["stratum"] == "en").sum() / (n / 2) - 0.5) < 0.05
    assert abs((x1["stratum"] == "fr").sum() / (n / 2) - 0.1) < 0.03


def test_mixture_stats_consistent_with_sample(spark):
    n = 2000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("fr").alias("lang"),
        F.concat_ws(
            " ", F.array_repeat(F.lit("tok"), (F.col("id") % 7 + 1).cast("int"))
        ).alias("text"),
    )
    rates = {"en": 0.5, "fr": 0.1}
    stats = (
        corpus.mixture_stats(df, rates=rates, default_rate=0.25)
        .toPandas()
        .set_index("stratum")
    )
    sampled = corpus.stratified_sample(df, rates=rates).toPandas()
    # the inline-recomputed draw agrees with the sample output exactly
    for lang in ("en", "fr"):
        assert stats.loc[lang, "sampled_docs"] == (
            (sampled["stratum"] == lang).sum()
        )
        assert stats.loc[lang, "n_docs"] == n / 2
        assert (
            abs(
                stats.loc[lang, "realized_rate"]
                - stats.loc[lang, "sampled_docs"] / (n / 2)
            )
            < 1e-6
        )


def test_token_percentiles_exact(spark):
    import numpy as np

    df = spark.range(101).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang"),
        F.concat_ws(
            " ", F.array_repeat(F.lit("t"), (F.col("id") + 1).cast("int"))
        ).alias("text"),
    )
    out = corpus.token_percentiles(df).toPandas().set_index("stratum")
    # token counts are exactly 1..101 -> linear-interpolated percentiles
    vals = np.arange(1, 102)
    assert out.loc["en", "n_docs"] == 101
    for p, col in [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")]:
        assert abs(out.loc["en", col] - np.quantile(vals, p)) < 1e-6


def test_token_budget_shards_contiguous_and_bounded(spark):
    # deterministic variable-length docs
    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.array_repeat(F.lit("w"), (F.col("id") % 37 + 1).cast("int"))
        ).alias("text"),
    )
    out = (
        corpus.token_budget_shards(df, budget=100)
        .orderBy("doc_id")
        .toPandas()
    )
    # start_offset is the exact exclusive cumsum in doc_id order
    assert (out["start_offset"] == out["n_tokens"].cumsum().shift(fill_value=0)).all()
    assert (out["shard_id"] == out["start_offset"] // 100).all()
    # docs are whole, assigned to the shard of their START offset, so
    # every shard's token total (except the last) is within one
    # max-doc-length of the budget on either side
    sizes = out.groupby("shard_id")["n_tokens"].sum()
    max_doc = out["n_tokens"].max()
    assert (sizes.iloc[:-1] > 100 - max_doc).all()
    assert (sizes.iloc[:-1] < 100 + max_doc).all()
    # shard ids are contiguous from 0
    assert sorted(sizes.index) == list(range(len(sizes)))


def test_token_budget_shards_matches_single_window(spark):
    # the distributed two-pass cumsum == the naive global window
    from pyspark.sql.window import Window

    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.array_repeat(F.lit("t"), (F.col("id") % 11 + 1).cast("int"))
        ).alias("text"),
    )
    fast = corpus.token_budget_shards(df, budget=64, num_partitions=16)
    from record_linkage_ldu_spark.functions.text import token_count

    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    naive = (
        df.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("start_offset"),
        )
        .select(
            "doc_id", "n_tokens", "start_offset",
            F.floor(F.col("start_offset") / 64).alias("shard_id"),
        )
    )
    assert fast.orderBy("doc_id").toPandas().equals(
        naive.orderBy("doc_id").toPandas()
    )


def test_decontaminate_flags_planted_overlap(spark):
    # benchmark doc whose text is verbatim inside corpus doc 1 (and
    # nowhere else); winnowing guarantees shared fingerprints for a
    # shared run >= k+w-1 = 8 tokens
    leak = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    corpus_rows = [
        (1, "intro words here " + leak + " trailing content words"),
        (2, "completely different text with many many other words in it "
            "nothing shared at all beyond stopwords maybe"),
    ]
    bench_rows = [(900, leak)]
    cdf = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    bdf = spark.createDataFrame(bench_rows, "doc_id long, text string")
    out = (
        corpus.decontaminate(cdf, bdf, min_shared=1)
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[1, "contaminated"] == 1 and out.loc[1, "n_shared"] >= 1
    assert out.loc[2, "contaminated"] == 0 and out.loc[2, "n_shared"] == 0
    assert 0.0 <= out.loc[1, "contamination_ratio"] <= 1.0
    # shuffled-join variant (benchmark too big to broadcast) agrees
    out2 = (
        corpus.decontaminate(cdf, bdf, min_shared=1, broadcast_benchmark=False)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.sort_index().equals(out2)


def test_corpus_pipeline_end_to_end_and_resume(spark, docs, tmp_path):
    """CorpusPipeline: clean -> keep -> decontaminate -> sample ->
    shard under StageStore; a second run resumes every stage with
    identical outputs; swapping the benchmark re-runs decon (and
    downstream) while the benchmark-independent stages still resume."""
    from record_linkage_ldu_spark.plans.corpus import (
        CorpusConfig,
        CorpusPipeline,
    )
    from record_linkage_ldu_spark.sources.io import StageStore

    bench = spark.createDataFrame(
        [(900, docs.where(F.col("doc_id") == 7).collect()[0]["text"])],
        "doc_id long, text string",
    )
    cfg = CorpusConfig(
        min_tokens=20,
        min_quality=0.3,
        decon_min_shared=1,
        sample_default_rate=0.8,
        shard_budget=64,
    )

    store = StageStore(spark, str(tmp_path / "corpus_store"))
    res1 = CorpusPipeline(spark, cfg, store).run(docs, bench)
    assert all(not v["resumed"] for v in res1.stage_info.values())
    # doc 7's text is verbatim in the benchmark -> decontaminated out
    decon = res1.decon.toPandas().set_index("doc_id")
    assert decon.loc[7, "contaminated"] == 1
    # the planted near-dup (15 ~ 14) is canonicalized away by the
    # keep stage before sampling
    keep = res1.keep.toPandas().set_index("doc_id")
    assert keep.loc[15, "keep"] == 0 and keep.loc[15, "canonical_id"] == 14
    sampled_ids = {r["doc_id"] for r in res1.sampled.collect()}
    assert 15 not in sampled_ids
    assert 7 not in sampled_ids
    # rejected docs never reach sampling; shards cover exactly the
    # sampled ids
    assert 101 not in sampled_ids and 102 not in sampled_ids
    shard_ids = {r["doc_id"] for r in res1.shards.collect()}
    assert shard_ids == sampled_ids

    # split is cluster-atomic over the final cut; weights cover the
    # whole keep list with 1/cluster_size mass
    split_rows = res1.split.collect()
    assert {r["doc_id"] for r in split_rows} == sampled_ids
    assert {r["split"] for r in split_rows} <= {"train", "valid", "test"}
    w = {r["doc_id"]: r for r in res1.weights.collect()}
    assert w[15]["cluster_size"] == 2 and w[15]["weight"] == 0.5
    assert w[14]["weight"] == 0.5

    res2 = CorpusPipeline(spark, cfg, store).run(docs, bench)
    assert all(v["resumed"] for v in res2.stage_info.values())
    assert sorted(res2.shards.collect()) == sorted(res1.shards.collect())
    assert sorted(map(tuple, res2.split.collect())) == sorted(
        map(tuple, split_rows)
    )

    # swap the benchmark: upstream cleaning stages resume, decon and
    # everything downstream recompute
    bench2 = spark.createDataFrame(
        [(901, docs.where(F.col("doc_id") == 8).collect()[0]["text"])],
        "doc_id long, text string",
    )
    res3 = CorpusPipeline(spark, cfg, store).run(docs, bench2)
    assert res3.stage_info["flags"]["resumed"]
    assert res3.stage_info["keep"]["resumed"]
    assert not res3.stage_info["decon"]["resumed"]
    assert not res3.stage_info["shards"]["resumed"]
    assert not res3.stage_info["split"]["resumed"]  # benchmark-keyed
    assert res3.stage_info["weights"]["resumed"]    # keep-keyed only
    assert 8 not in {r["doc_id"] for r in res3.sampled.collect()}
    assert 7 in {r["doc_id"] for r in res3.sampled.collect()}


def test_corpus_pipeline_no_store(spark, docs):
    from record_linkage_ldu_spark.plans.corpus import (
        CorpusConfig,
        CorpusPipeline,
    )

    res = CorpusPipeline(
        spark, CorpusConfig(min_tokens=20, sample_default_rate=1.0)
    ).run(docs)
    assert res.decon is None
    # with rate 1.0 every clean+kept doc is sampled and sharded
    kept = {r["doc_id"] for r in res.keep.where(F.col("keep") == 1).collect()}
    assert {r["doc_id"] for r in res.shards.collect()} == kept


def test_decontaminate_plan_broadcasts_benchmark(spark, docs):
    out = corpus.decontaminate(
        docs.where(F.col("doc_id") < 50), docs.where(F.col("doc_id") >= 50)
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_repetition_signals_known_values(spark):
    df = spark.createDataFrame(
        [
            # 6 tokens, "a b" bigram occurs 3 of 5 slots; 4 trigram
            # slots hold only 2 distinct trigrams -> 2 redundant
            (1, "a b a b a b"),
            # all tokens distinct -> zero repetition everywhere
            (2, "one two three four five"),
            # single token: no bigrams/trigrams, dup fracs 0
            (3, "solo"),
            # empty + null: zero rows of signal, not a crash
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in corpus.repetition_signals(df).collect()
    }
    r1 = out[1]
    assert r1["n_tokens"] == 6
    assert r1["dup_token_frac"] == pytest.approx(1 - 2 / 6)
    assert r1["top_bigram_frac"] == pytest.approx(3 / 5)
    assert r1["dup_trigram_frac"] == pytest.approx(1 - 2 / 4)
    r2 = out[2]
    assert r2["dup_token_frac"] == 0.0
    assert r2["top_bigram_frac"] == pytest.approx(1 / 4)
    assert r2["dup_trigram_frac"] == 0.0
    for i in (3, 4, 5):
        r = out[i]
        assert (r["top_bigram_frac"], r["dup_trigram_frac"]) == (0.0, 0.0)


def test_chunk_documents_cover_and_overlap(spark):
    toks = " ".join(f"t{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, toks), (2, "a b c"), (3, "")],
        "doc_id long, text string",
    )
    out = corpus.chunk_documents(df, chunk=32, overlap=8).toPandas()
    # empty doc emits nothing; short doc emits exactly one whole chunk
    assert set(out["doc_id"]) == {1, 2}
    d2 = out[out["doc_id"] == 2]
    assert len(d2) == 1 and d2.iloc[0]["chunk_text"] == "a b c"
    # 100 tokens, stride 24: chunks at 0,24,48,72 -> 4 chunks
    d1 = out[out["doc_id"] == 1].sort_values("chunk_id")
    assert list(d1["chunk_id"]) == [0, 1, 2, 3]
    # every token position is covered, consecutive chunks overlap by 8
    cover = []
    for _, r in d1.iterrows():
        ts = r["chunk_text"].split(" ")
        assert len(ts) == r["chunk_tokens"]
        cover.append(ts)
    for a, b in zip(cover, cover[1:]):
        assert a[-8:] == b[:8]
    flat = [t for c in cover for t in c]
    assert set(flat) == {f"t{i}" for i in range(100)}
    # last chunk is the tail (72..100 = 28 tokens)
    assert cover[-1][-1] == "t99" and len(cover[-1]) == 28


def test_corpus_shuffle_deterministic_partition(spark):
    df = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    a = corpus.corpus_shuffle(df, n_shards=8, seed="s").toPandas()
    b = corpus.corpus_shuffle(df, n_shards=8, seed="s").toPandas()
    # deterministic across runs
    assert a.sort_values("doc_id").equals(b.sort_values("doc_id"))
    # every doc exactly once; positions are a dense 0..k-1 per shard
    assert len(a) == 200 and a["doc_id"].is_unique
    for _, g in a.groupby("shard"):
        assert sorted(g["pos"]) == list(range(len(g)))
    # a different seed reorders (not a fixed identity mapping)
    c = corpus.corpus_shuffle(df, n_shards=8, seed="other").toPandas()
    merged = a.merge(c, on="doc_id", suffixes=("_a", "_c"))
    assert (
        (merged["shard_a"] != merged["shard_c"])
        | (merged["pos_a"] != merged["pos_c"])
    ).any()


def test_pii_scrub_masks_and_counts(spark):
    from record_linkage_ldu_spark.functions.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org or call (310) 555-0199"),
            (2, "server at 10.0.12.7 port 8080"),
            (3, "zip 90210 is not pii, neither is order 1234"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", pii_scrub(F.col("text")).alias("p")
        ).select("doc_id", "p.*").collect()
    }
    assert out[1]["text"] == "mail <EMAIL> or call <PHONE>"
    assert (out[1]["n_emails"], out[1]["n_phones"]) == (1, 1)
    assert out[2]["text"] == "server at <IP> port 8080"
    assert out[2]["n_ips"] == 1 and out[2]["n_phones"] == 0
    # short digit runs (zip, order ids) are not phone-masked
    assert out[3]["text"] == "zip 90210 is not pii, neither is order 1234"
    assert out[4]["text"] is None


def test_hashed_bow_score_deterministic_and_bounded(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta"),
         (4, ""), (5, None)],
        "doc_id long, text string",
    )
    a = corpus.hashed_bow_score(df).toPandas().set_index("doc_id")
    b = corpus.hashed_bow_score(df).toPandas().set_index("doc_id")
    # pure function of the text: identical across runs and docs
    assert a.equals(b)
    assert a.loc[1, "bow_logit"] == a.loc[2, "bow_logit"]
    # score normalized to [-1, 1]; empty/null docs score 0
    assert (a["bow_score"].abs() <= 1.0).all()
    assert a.loc[4, "bow_logit"] == 0 and a.loc[5, "bow_score"] == 0.0
    # a different seed is a different model
    c = corpus.hashed_bow_score(df, seed="other").toPandas().set_index("doc_id")
    assert c.loc[1, "bow_logit"] != a.loc[1, "bow_logit"]


def test_corpus_shuffle_global_is_true_rank(spark):
    """The two-pass distributed rank equals the single-window rank,
    and sharded + global variants see the same hash order."""
    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    out = corpus.corpus_shuffle_global(df, seed="g").orderBy("pos").toPandas()
    assert list(out["pos"]) == list(range(500))
    # independent single-window truth
    import pyspark.sql.functions as SF
    from pyspark.sql.window import Window

    key = SF.md5(SF.concat_ws(":", SF.lit("g"), SF.col("doc_id").cast("string")))
    w = Window.orderBy(key, "doc_id")
    truth = (
        df.select("doc_id", (SF.row_number().over(w) - 1).alias("pos"))
        .orderBy("pos")
        .toPandas()
    )
    assert list(out["doc_id"]) == list(truth["doc_id"])


# ---------------------------------------------------------------------
# round 4: learned-weights BoW (the hashed_bow_score swap-in hook)
# ---------------------------------------------------------------------


def test_bow_weighted_map_plan_has_no_exchange(spark):
    """The map-literal learned-weights scorer must keep the hash
    stand-in's row-local plan: no shuffle, no join."""
    from record_linkage_ldu_spark.operators.corpus import bow_score_weighted

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "dogs bark"), (3, None)],
        "doc_id long, text string",
    )
    out = bow_score_weighted(docs, {"the": 3, "cat": -2, "mat": 5})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BroadcastHashJoin" not in plan


def test_bow_weighted_scores_and_oov(spark):
    from record_linkage_ldu_spark.operators.corpus import bow_score_weighted

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "zzz qqq"), (3, None)],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in bow_score_weighted(
            docs, {"the": 3, "cat": -2, "mat": 5}
        ).collect()
    }
    # the(3)+cat(-2)+sat(0)+on(0)+the(3)+mat(5) = 9 over 6 tokens, scale 5
    assert rows[1]["bow_logit"] == 9
    assert rows[1]["n_tokens"] == 6
    assert abs(rows[1]["bow_score"] - 9 / (6 * 5.0)) < 1e-9
    assert rows[2]["bow_logit"] == 0  # all OOV
    assert rows[3]["bow_logit"] == 0 and rows[3]["bow_score"] == 0.0


def test_bow_weighted_join_equals_map_literal(spark):
    """The large-vocab broadcast-join sibling must produce the same
    table as the map-literal form."""
    from record_linkage_ldu_spark.operators.corpus import (
        bow_score_weighted,
        bow_score_weighted_join,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    weights = {"the": 3, "of": -1, "and": 2, "a": -4, "in": 7}
    scale = max(abs(w) for w in weights.values())
    wdf = spark.createDataFrame(
        list(weights.items()), "token string, weight long"
    )
    a = bow_score_weighted(docs, weights).collect()
    b = bow_score_weighted_join(docs, wdf, scale=scale).collect()
    assert {tuple(r) for r in a} == {tuple(r) for r in b}
    # and the join side really broadcasts
    plan = (
        bow_score_weighted_join(docs, wdf, scale=scale)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_line_dedup_semantics(spark):
    """Boilerplate (>=2 distinct docs) removed everywhere; within-doc
    repetition kept; blank lines preserved; null/empty docs pass
    through; one output row per input doc."""
    rows = [
        ("d1", "Cookie banner\nunique alpha\n\nCopyright 2020 Corp"),
        ("d2", "cookie banner \nunique beta\nCopyright 2020 Corp"),
        ("d3", "totally unique\n\n\nanother unique line"),
        ("d4", None),
        ("d5", ""),
        ("d6", "repeat me\nrepeat me\nrepeat me"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in corpus.line_dedup(docs).collect()}
    assert len(out) == len(rows)
    # case/whitespace-folded boilerplate stripped from both docs,
    # unique content and paragraph blanks kept in order
    assert out["d1"]["text"] == "unique alpha\n"
    assert (out["d1"]["n_lines"], out["d1"]["n_removed"]) == (4, 2)
    assert out["d2"]["text"] == "unique beta"
    # no cross-doc duplicate -> untouched (blank runs intact)
    assert out["d3"]["text"] == "totally unique\n\n\nanother unique line"
    assert out["d3"]["n_removed"] == 0
    # null/empty text = one blank line, passes through
    for d in ("d4", "d5"):
        assert (out[d]["text"], out[d]["n_lines"], out[d]["n_removed"]) == (
            "", 1, 0,
        )
    # within-doc repetition alone never trips the census
    assert out["d6"]["text"] == "repeat me\nrepeat me\nrepeat me"


def test_line_dedup_min_dup_docs_threshold(spark):
    docs = spark.createDataFrame(
        [("a", "shared line\nown a"), ("b", "shared line\nown b"),
         ("c", "shared line\nown c")],
        "doc_id string, text string",
    )
    # threshold 3: the line lives in exactly 3 docs -> removed
    out3 = corpus.line_dedup(docs, min_dup_docs=3).collect()
    assert all(r["n_removed"] == 1 for r in out3)
    # threshold 4: census never reaches it -> kept
    out4 = corpus.line_dedup(docs, min_dup_docs=4).collect()
    assert all(r["n_removed"] == 0 for r in out4)
    with pytest.raises(ValueError):
        corpus.line_dedup(docs, min_dup_docs=1)


def test_canonical_url_spark_duckdb_parity_and_semantics(spark):
    """URL canonicalizer: case/port/www/tracking/fragment/trailing-
    slash variants collapse to one key; Spark and DuckDB twins agree
    byte-for-byte."""
    import duckdb

    from record_linkage_ldu_spark.functions.text import (
        canonical_url,
        sql_canonical_url,
        sql_url_host,
        url_host,
    )

    cases = [
        "HTTPS://WWW.Example.COM:443/Path/A/?utm_source=feed&b=2&a=1#top",
        "https://example.com/Path/A?a=1&b=2",
        "http://Example.com:80",
        "https://sub.example.com/x//",
        "  http://example.com/?fbclid=zz&ref=home  ",
        "https://example.com/CaseSensitive/Path",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "u string")
    got = [
        (r["c"], r["h"])
        for r in df.select(
            canonical_url(F.col("u")).alias("c"), url_host(F.col("u")).alias("h")
        ).collect()
    ]
    # semantics: variants 0 and 1 are the same page
    assert got[0][0] == got[1][0] == "https://example.com/Path/A?a=1&b=2"
    assert got[2][0] == "http://example.com"
    assert got[3][0] == "https://sub.example.com/x"
    assert got[4][0] == "http://example.com"
    assert got[5][0] == "https://example.com/CaseSensitive/Path"
    assert got[0][1] == "example.com" and got[3][1] == "sub.example.com"

    con = duckdb.connect()
    con.execute("CREATE TABLE t(u VARCHAR)")
    for c in cases:
        con.execute("INSERT INTO t VALUES (?)", [c])
    duck = con.execute(
        f"SELECT {sql_canonical_url('u')}, {sql_url_host('u')} FROM t"
    ).fetchall()
    assert [tuple(r) for r in duck] == got


def test_bloom_decontaminate_no_false_negatives(spark):
    """The Bloom pre-filter never drops a genuinely shared fingerprint:
    the contaminated flag equals plain decontaminate's on the same
    split, at default and at adversarially tiny m_bits."""
    docs = spark.range(200).selectExpr(
        "id AS doc_id",
        "concat('alpha bravo charlie delta echo foxtrot golf hotel ', "
        " CASE WHEN id % 7 = 0 THEN 'shared run of leaked tokens here' "
        "      ELSE concat('own tail ', id, ' words vary per doc') END) "
        " AS text",
    )
    corp = docs.where("doc_id % 5 != 0")
    bench = docs.where("doc_id % 5 = 0")
    base = {
        r["doc_id"]: r["contaminated"]
        for r in corpus.decontaminate(corp, bench, min_shared=2).collect()
    }
    for m_bits in (16384, 64):
        got = {
            r["doc_id"]: r
            for r in corpus.bloom_decontaminate(
                corp, bench, min_shared=2, m_bits=m_bits
            ).collect()
        }
        assert set(got) == set(base)
        for d, flag in base.items():
            assert got[d]["contaminated"] == flag, (m_bits, d)
            # bloom pass is a superset of the exact hits
            assert got[d]["n_bloom_pass"] >= got[d]["n_shared"]
            assert got[d]["n_bloom_fp"] == (
                got[d]["n_bloom_pass"] - got[d]["n_shared"]
            )
    # adversarially small filter must actually SHOW false positives
    # somewhere (otherwise the FP observability is untested)
    tiny = corpus.bloom_decontaminate(corp, bench, min_shared=2, m_bits=64)
    assert tiny.agg(F.sum("n_bloom_fp")).collect()[0][0] > 0


def test_leakage_safe_split_cluster_atomicity(spark):
    """Every member of a near-dup cluster lands in the SAME split;
    fractions honor the config; output is deterministic."""
    from record_linkage_ldu_spark.operators.corpus import leakage_safe_split

    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    # 50 clusters of 4 (canonical = floor(id/4)*4)
    keep = spark.createDataFrame(
        [(i, (i // 4) * 4) for i in range(200)],
        "doc_id long, canonical_id long",
    )
    out = leakage_safe_split(docs, keep).collect()
    assert len(out) == 200
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    names = {r["split"] for r in out}
    assert names <= {"train", "valid", "test"}
    n_train = sum(1 for r in out if r["split"] == "train")
    assert n_train > 120  # ~90% of 200, loose hash-draw band
    again = leakage_safe_split(docs, keep).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_leakage_safe_split_rejects_bad_fractions(spark):
    import pytest

    from record_linkage_ldu_spark.operators.corpus import leakage_safe_split

    docs = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError):
        leakage_safe_split(docs, docs.withColumn("canonical_id", docs.doc_id),
                           splits=(("train", 0.5), ("test", 0.4)))


def test_snapshot_diff_statuses(spark):
    from record_linkage_ldu_spark.operators.corpus import snapshot_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "alpha"), (2, "beta EDITED"), (4, "delta")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in snapshot_diff(old, new).collect()}
    # unchanged doc 1 is filtered out
    assert set(out) == {2, 3, 4}
    assert out[2]["status"] == "changed"
    assert out[2]["old_fp"] is not None and out[2]["new_fp"] is not None
    assert out[2]["old_fp"] != out[2]["new_fp"]
    assert out[3]["status"] == "removed" and out[3]["new_fp"] is None
    assert out[4]["status"] == "added" and out[4]["old_fp"] is None


def test_leakage_safe_split_partial_keep_list_falls_back(spark):
    """Docs missing from the keep list still get a split (identity
    cluster fallback) — never silently dropped."""
    from record_linkage_ldu_spark.operators.corpus import leakage_safe_split

    docs = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    keep = spark.createDataFrame(
        [(1, 10), (2, 10)], "doc_id long, canonical_id long"
    )
    out = leakage_safe_split(docs, keep).collect()
    assert len(out) == 3
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[3]["cluster_id"] == 3  # identity fallback
    assert by_id[1]["cluster_id"] == by_id[2]["cluster_id"] == 10
    assert by_id[1]["split"] == by_id[2]["split"]


def test_snapshot_diff_null_text_not_misclassified(spark):
    """NULL text is content, not absence: NULL->NULL is unchanged,
    NULL->'x' and 'x'->NULL are changed."""
    from record_linkage_ldu_spark.operators.corpus import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, None), (2, "x"), (3, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert out == {2: "changed", 3: "changed"}  # doc 1 unchanged


def test_source_quota_sample_cap_and_skew_safety(spark):
    """The two-pass salted ranking equals a plain single-window
    top-cap (pass 1 is lossless: any global top-cap row is in its own
    bucket's top-cap); caps bind per group; groups under the cap keep
    everything; the kept set is a pure function of the seed."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from record_linkage_ldu_spark.operators.corpus import (
        _uniform_draw,
        source_quota_sample,
    )

    rows = [(i, "mega") for i in range(200)] + [
        (1000 + i, "small") for i in range(3)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    out = source_quota_sample(df, cap=5, salt=4)
    got = {
        (r["doc_id"], r["source"], r["quota_rank"]) for r in out.collect()
    }
    # reference: one plain window, no salting
    w = Window.partitionBy("source").orderBy("_draw", "doc_id")
    ref = {
        (r["doc_id"], r["source"], r["quota_rank"])
        for r in df.withColumn(
            "_draw", _uniform_draw(F.col("doc_id"), "quota")
        )
        .withColumn("quota_rank", F.row_number().over(w))
        .where(F.col("quota_rank") <= 5)
        .collect()
    }
    assert got == ref
    by_src = {}
    for _, src, _ in got:
        by_src[src] = by_src.get(src, 0) + 1
    assert by_src == {"mega": 5, "small": 3}
    # deterministic: same seed -> same set; different seed -> (almost
    # surely) a different mega selection
    again = {
        (r["doc_id"], r["source"], r["quota_rank"])
        for r in source_quota_sample(df, cap=5, salt=4).collect()
    }
    assert again == got
    other = {
        r["doc_id"]
        for r in source_quota_sample(df, cap=5, salt=4, seed="v2")
        .where(F.col("source") == "mega")
        .collect()
    }
    assert other != {d for d, s, _ in got if s == "mega"}


def test_vocab_stats_hand_computed(spark):
    """3 docs, one stratum: tokens {a:3, b:2, c:1, d:1} -> n_tokens=7,
    n_types=4, hapax {c,d}=2, TTR=4/7; empty-text stratum emits no
    row; doc counts ignore tokenization."""
    from record_linkage_ldu_spark.operators.corpus import vocab_stats

    df = spark.createDataFrame(
        [(1, "a b a", "en"), (2, "a b c", "en"), (3, "d", "en"),
         (4, "", "empty")],
        "doc_id long, text string, lang string",
    )
    rows = {r["stratum"]: r for r in vocab_stats(df).collect()}
    assert set(rows) == {"en"}
    r = rows["en"]
    assert (r["n_docs"], r["n_tokens"], r["n_types"], r["n_hapax"]) == (
        3, 7, 4, 2,
    )
    assert r["type_token_ratio"] == round(4 / 7, 6)
    assert r["hapax_ratio"] == 0.5


def test_bm25_hand_computed(spark):
    """3 docs, query {a, z}: idf/tf-saturation per Robertson with the
    Lucene +1; doc 3 (no query term) absent despite containing text."""
    import math

    df = spark.createDataFrame(
        [(1, "a a b b"), (2, "a c"), (3, "b c d e")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in corpus.bm25_search(df, ("a", "z")).collect()}
    assert set(out) == {1, 2}
    n, avgdl, k1, b = 3, 10 / 3, 1.2, 0.75
    idf_a = math.log((n - 2 + 0.5) / (2 + 0.5) + 1.0)

    def w(tf, dl):
        return idf_a * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert out[1]["score"] == pytest.approx(w(2, 4), abs=1e-6)
    assert out[2]["score"] == pytest.approx(w(1, 2), abs=1e-6)
    assert out[1]["n_hit_terms"] == 1  # distinct terms hit, not tf
    # saturation: doubling tf does not double the weight
    assert out[1]["score"] < 2 * out[2]["score"]


def test_weighted_sample_aes(spark):
    """A-ES invariants: deterministic reruns, weight-proportional
    inclusion (heavy rows oversampled), non-positive weights excluded,
    global path compiles to TakeOrderedAndProject (no full sort)."""
    rows = [(i, 100.0 if i < 50 else 1.0) for i in range(500)]
    rows += [(900, 0.0), (901, -3.0), (902, None)]
    df = spark.createDataFrame(rows, "doc_id long, w double")

    out1 = corpus.weighted_sample(df, "w", 100).collect()
    out2 = corpus.weighted_sample(df, "w", 100).collect()
    assert [r["doc_id"] for r in out1] == [r["doc_id"] for r in out2]
    assert len(out1) == 100
    assert {r["rank"] for r in out1} == set(range(1, 101))
    picked = {r["doc_id"] for r in out1}
    assert not picked & {900, 901, 902}
    # 50 heavy rows carry 100x the mass of each of 450 light rows:
    # nearly all heavies must be in the top-100
    n_heavy = sum(1 for d in picked if d < 50)
    assert n_heavy >= 45

    plan = corpus.weighted_sample(df, "w", 100)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "TakeOrderedAndProject" in plan

    # stratified path: exactly n per stratum, ranks restart
    df2 = df.withColumn("g", (F.col("doc_id") % 2).cast("string"))
    out3 = corpus.weighted_sample(df2, "w", 10, strata_col="g").collect()
    by_g = {}
    for r in out3:
        by_g.setdefault(r["stratum"], []).append(r["rank"])
    assert {g: sorted(v) for g, v in by_g.items()} == {
        "0": list(range(1, 11)), "1": list(range(1, 11)),
    }


def test_bigram_lm_order_sensitive(spark):
    """Bigram perplexity separates natural order from scrambled order
    of the SAME tokens (identical unigram stats); docs with < 2 tokens
    are excluded; hand-check one probability."""
    import math

    base = "the cat sat on the mat"
    scrambled = "mat the on sat cat the"
    df = spark.createDataFrame(
        [(i, base) for i in range(8)] + [(100, scrambled), (101, "one")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in corpus.bigram_lm_scores(df).collect()}
    assert 101 not in out                      # no bigram to score
    assert out[100]["perplexity"] > out[0]["perplexity"]
    # unigram stats identical => unigram LM CANNOT separate them
    uni = {r["doc_id"]: r["perplexity"]
           for r in corpus.unigram_lm_scores(df).collect()}
    assert uni[100] == uni[0]
    # hand-check: p("cat"|"the") = (c2("the cat")+1)/(c1("the")+V)
    # c2=8, c1("the")=18 (2 per base doc + 2 per scrambled), V=6
    p = (8 + 1) / (18 + 6)
    r0 = out[0]
    assert r0["n_bigrams"] == 5
    # full logprob: average over the 5 base bigrams
    c2 = {"the cat": 8, "cat sat": 8, "sat on": 8, "on the": 8, "the mat": 8}
    c1 = {"the": 18, "cat": 9, "sat": 9, "on": 9}
    probs = [
        (c2["the cat"] + 1) / (c1["the"] + 6),
        (c2["cat sat"] + 1) / (c1["cat"] + 6),
        (c2["sat on"] + 1) / (c1["sat"] + 6),
        (c2["on the"] + 1) / (c1["on"] + 6),
        (c2["the mat"] + 1) / (c1["the"] + 6),
    ]
    assert probs[0] == p
    exp = sum(math.log(x) for x in probs) / 5
    assert r0["avg_logprob"] == pytest.approx(exp, abs=1e-6)


def test_lang_confusion_rows(spark):
    df = spark.createDataFrame(
        [
            (1, "the and for are but not you all the and", "en"),
            (2, "the and for are but not you all the and", "en"),
            (3, "der die und das ist nicht mit ein zu den", "de"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {
        (r["lang"], r["lang_pred"]): (r["n"], r["rate"])
        for r in corpus.lang_confusion(df).collect()
    }
    assert out[("en", "en")] == (2, 1.0)
    assert out[("de", "de")] == (1, 1.0)
    assert len(out) == 2


def test_pmi_collocations_hand_computed(spark):
    """"a b" always adjacent vs independent fillers: PMI("a b") must
    top the list and match ln(p(ab)/(p(a)p(b))) exactly."""
    import math

    # 6 docs of "a b", 6 of "c d e" -> bigrams: "a b" x6, "c d" x6,
    # "d e" x6; unigrams: a,b x6, c,d,e x6; N1=30, Nb=18
    df = spark.createDataFrame(
        [(i, "a b") for i in range(6)] + [(10 + i, "c d e") for i in range(6)],
        "doc_id long, text string",
    )
    out = {r["pair"]: r for r in corpus.pmi_collocations(
        df, min_count=5, top_k=10
    ).collect()}
    assert set(out) == {"a b", "c d", "d e"}
    exp = math.log((6 / 18) / ((6 / 30) * (6 / 30)))
    assert out["a b"]["pmi"] == pytest.approx(exp, abs=1e-6)
    assert out["a b"]["n"] == 6


def test_tfidf_keywords_rank(spark):
    """The doc-specific term must outrank corpus-wide terms; ranks are
    contiguous from 1 with deterministic tiebreaks."""
    df = spark.createDataFrame(
        [
            (1, "shared shared rare rare rare"),
            (2, "shared shared other"),
            (3, "shared filler"),
        ],
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["pos"]): r["term"]
           for r in corpus.tfidf_keywords(df, per_doc=2).collect()}
    assert out[(1, 1)] == "rare"       # df=1, tf=3: dominates
    assert out[(2, 1)] == "other"      # df=1 beats shared (df=3)
    assert out[(3, 1)] == "filler"


def test_zipf_slope_exact_power_law(spark):
    """A frequency table engineered to f(r) = 64/r (exact Zipf, slope
    -1): text where term t_r appears 64/r times for r in 1,2,4,8."""
    words = []
    for r, n in ((1, 64), (2, 32), (4, 16), (8, 8)):
        words += [f"w{r:02d}"] * n
    # one word per doc so tokenization is trivial
    df = spark.createDataFrame(
        [(i, w, "en") for i, w in enumerate(words)],
        "doc_id long, text string, lang string",
    )
    out = corpus.zipf_slope(df).collect()
    # ranks of the 4 distinct terms: 1,2,3,4 with freqs 64,32,16,8 —
    # not exactly 1/r in rank space (ranks 3,4 hold freqs 16,8), but
    # log-log is still perfectly linear on (ln r, ln f)? No: ln f
    # drops by ln2 per rank while ln r is concave -> slope < -1.
    # Assert the robust invariants instead of an exact value:
    r = out[0]
    assert r["stratum"] == "en" and r["n_types"] == 4
    assert -3.5 < r["zipf_slope"] < -1.0


def test_mixture_rebalance_hits_target_shape(spark):
    """Derived keep probabilities: the scarcest-vs-target stratum is
    kept whole (prob 1), realized output shares approach the target
    mixture, untargeted strata are dropped, and the draw is a pure
    function of the id (repartition-invariant)."""
    from record_linkage_ldu_spark.operators.corpus import mixture_rebalance

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    targets = {"en": 0.3, "fr": 0.25, "de": 0.25, "es": 0.2}
    out = mixture_rebalance(docs, targets=targets).cache()
    rows = out.collect()
    assert rows, "rebalance produced no rows"
    # zh is not in targets -> dropped entirely
    assert not [r for r in rows if r["stratum"] == "zh"]
    # the stratum with the max ratio keeps prob 1.0
    probs = {r["stratum"]: r["keep_prob"] for r in rows}
    assert max(probs.values()) == 1.0
    # realized shares within sampling noise of the target shape:
    # fr is scarce (64 docs at sf0.01) so give +-40% relative slack
    from collections import Counter

    n = len(rows)
    shares = Counter(r["stratum"] for r in rows)
    for g, t in targets.items():
        realized = shares[g] / n
        assert abs(realized - t) / t < 0.4, (g, realized, t)
    # partitioning does not change the sample
    out2 = mixture_rebalance(docs.repartition(13), targets=targets)
    assert {r["doc_id"] for r in rows} == {
        r["doc_id"] for r in out2.collect()
    }


def test_shingle_novelty_hand_computed(spark):
    """Duplicated text -> novelty 0 for every copy; unique text ->
    novelty 1; partial overlap in between; empty doc -> NULL with a
    row still present (one row per input doc)."""
    from record_linkage_ldu_spark.operators.corpus import shingle_novelty

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat today"),
            (2, "the cat sat on the mat today"),
            (3, "completely different words entirely here now"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in shingle_novelty(docs).collect()}
    assert len(got) == 4
    assert got[1]["novelty"] == 0.0 and got[2]["novelty"] == 0.0
    assert got[3]["novelty"] == 1.0
    assert got[4]["n_shingles"] == 0 and got[4]["novelty"] is None
    # partial overlap: doc 5 shares a prefix run with doc 1
    docs2 = docs.union(
        spark.createDataFrame(
            [(5, "the cat sat on the mat tonight")], "doc_id long, text string"
        )
    )
    got2 = {r["doc_id"]: r for r in shingle_novelty(docs2).collect()}
    # doc 5 has 5 shingles, 4 shared with docs 1/2 ('...mat tonight' unique)
    assert got2[5]["n_shingles"] == 5
    assert got2[5]["n_unique"] == 1
    assert 0.0 < got2[5]["novelty"] < 1.0
    # and doc 1's formerly-unique tail is still duplicated by doc 2
    assert got2[1]["novelty"] == 0.0


def test_template_floods_ranks_duplicated_shingles(spark):
    """The flood report surfaces the repeated template, ranked by df,
    per stratum; singleton shingles never appear (min_df)."""
    from record_linkage_ldu_spark.operators.corpus import template_floods

    tpl = "click here to accept all cookies"
    docs = spark.createDataFrame(
        [
            (1, f"{tpl} welcome to alpha site", "en"),
            (2, f"{tpl} beta content page here", "en"),
            (3, f"{tpl} gamma words entirely different", "en"),
            (4, "unique french text only once", "fr"),
        ],
        "doc_id long, text string, lang string",
    )
    out = template_floods(docs, top_n=3).collect()
    en = [r for r in out if r["stratum"] == "en"]
    assert en, "no en floods found"
    # rank 1 = a shingle from the shared template, df == 3
    top = min(en, key=lambda r: r["rank"])
    assert top["df"] == 3
    assert top["shingle"] in tpl
    # fr doc is singleton-only -> filtered by min_df
    assert not [r for r in out if r["stratum"] == "fr"]
    # ranks are 1..k with no gaps inside a stratum
    assert sorted(r["rank"] for r in en) == list(range(1, len(en) + 1))


def test_mixture_epochs_upsampling_shape(spark):
    """Epochs-per-source: output totals ~N shaped as targets, the
    scarce-vs-target stratum actually REPEATS docs (copy >= 2),
    untargeted strata vanish, and copies per doc differ by at most 1
    from r's floor/ceil; repartition-invariant."""
    from collections import Counter

    from record_linkage_ldu_spark.operators.corpus import mixture_epochs

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    targets = {"en": 0.3, "fr": 0.25, "de": 0.25, "es": 0.2}
    out = mixture_epochs(docs, targets=targets).cache()
    rows = out.collect()
    n_in = docs.count()
    n_out = len(rows)
    # totals within sampling noise of N
    assert abs(n_out - n_in) / n_in < 0.15, (n_out, n_in)
    shares = Counter(r["stratum"] for r in rows)
    assert "zh" not in shares
    for g, t in targets.items():
        assert abs(shares[g] / n_out - t) / t < 0.35, (g, shares[g] / n_out)
    # fr is scarce vs target (64 docs, target 0.25 of ~500) -> epochs
    # ~2: its docs repeat
    fr_copies = Counter(
        r["doc_id"] for r in rows if r["stratum"] == "fr"
    )
    assert max(fr_copies.values()) >= 2
    # per-doc copies = floor(r) or ceil(r)
    by_doc = Counter((r["doc_id"], r["stratum"]) for r in rows)
    eps_by_stratum = {r["stratum"]: r["epochs"] for r in rows}
    import math

    for (doc, g), c in by_doc.items():
        eps = eps_by_stratum[g]
        assert c in (math.floor(eps), math.ceil(eps)), (doc, g, c, eps)
    # determinism under repartitioning
    out2 = mixture_epochs(docs.repartition(17), targets=targets)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, out2.collect()))


def test_unigram_lm(spark):
    import math

    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a a b"),
            Row(doc_id=2, text="a c"),
            Row(doc_id=3, text=""),        # tokenless: excluded
        ]
    )
    out = {r["doc_id"]: r for r in corpus.unigram_lm_scores(docs).collect()}
    assert set(out) == {1, 2}
    # N=5 tokens, V=3 types, add-1: p(a)=(3+1)/(5+3), p(b)=p(c)=(1+1)/8
    pa, pb = 4 / 8, 2 / 8
    exp1 = (2 * math.log(pa) + math.log(pb)) / 3
    assert out[1]["avg_logprob"] == pytest.approx(exp1, abs=1e-6)
    assert out[1]["n_tokens"] == 3
    # rarer tokens -> higher perplexity
    assert out[2]["perplexity"] > out[1]["perplexity"]

"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit", "queries", "sf", ...extras}.

Headline is the full ER pipeline (span codec -> normalize -> multi-key
blocking + caps -> candidate pairs -> Arrow-UDF + native scoring ->
rule masks -> connected components) over interleaved documents
synthesized from `customer`; the rest covers the dedup / ANN / text /
corpus operators.

Every query is forced with the noop sink (full column computation —
`count()` would let Catalyst prune the expensive columns).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Pinned reference seconds for the calibration workload below,
# measured settled (warmup + best-of-2) on an idle 32-vCPU run of
# this box.  VERDICT r4 item 2: driver bench rows swung -38% on
# unchanged code because the host wanders; a fixed pure-CPU workload
# timed inside the same session turns that wander into a recorded
# number instead of prose.  normalized = raw * (CALIB_REF / calib_s).
CALIB_REF_S = 1.67
_CALIB_ROWS = 16_000_000


def calibrate(spark) -> float:
    """Fixed calibration workload: a 16M-row native levenshtein fold
    (same JVM expression class as the scoring hot path, no I/O, no
    shuffle).  One warmup run (JIT), then best-of-2."""

    def one() -> float:
        t0 = time.time()
        df = spark.range(_CALIB_ROWS).select(
            F.concat(
                F.lit("customer#"),
                ((F.col("id") * 2654435761) % 1000003).cast("string"),
            ).alias("a"),
            F.concat(
                F.lit("custmoer#"),
                ((F.col("id") * 40503) % 999983).cast("string"),
            ).alias("b"),
        )
        df.select(F.sum(F.levenshtein("a", "b"))).collect()
        return time.time() - t0

    one()
    return round(min(one(), one()), 3)


def skew_stress(spark) -> dict:
    """Adversarial-skew scenario: a PLANTED mega-block (one key holding
    10% of all docs — the degenerate-key shape: empty names,
    placeholder phones) against the tier path.  Everything here is
    measured, not narrated:

    - ``uniform_*``: N docs in size-8 blocks, plain pair gen — the
      no-skew control.
    - ``tiered_*``: same N docs but 10% of them in one MEGA key, run
      through tiered_pairs — the mega block crosses the drop
      ceiling, is censused and dropped (counts reported below), and the
      wall stays comparable to the control.  Untiered, the same input
      is quadratic: the mega block alone implies (N/10 choose 2) pairs.
    - ``untiered_*``: the quadratic path MEASURED at two smaller
      corpus sizes (the mega block is a single key, so the whole block
      lands in ONE post-shuffle task) — 2x the docs must show ~4x the
      wall.
    - ``hot_plain/salted_*``: the middle tier — a block inside
      (max_block_size, ceiling] processed as one single-task plain join
      vs the salted triangle join (same pair set, bounded per-task
      width across salt*(salt+1)/2 tasks).  AQE's skew-join does NOT
      rescue the plain path: it splits partitions by BYTES, and a hot
      block's post-shuffle partition is tiny in bytes (thousands of
      key rows) while quadratic in CPU (millions of scored pairs) —
      measured below with skew-join left ON.
    """
    from record_linkage_ldu_spark.operators.blocking import (
        BlockingConfig,
        candidate_pairs,
        salted_candidate_pairs,
        tiered_pairs,
    )

    out: dict = {}
    cfg = BlockingConfig(max_block_size=1000, salt_buckets=8, salt_drop_factor=16)

    # At 100TB the keys table never fits the broadcast threshold — the
    # block self-join is a shuffle join and a skewed key lands in ONE
    # post-shuffle task.  The synthetic corpora here are small enough
    # to broadcast (which spreads the probe side and HIDES the skew),
    # so broadcast is disabled for the scenario to measure the at-scale
    # plan shape.
    # Same reasoning for AQE partition coalescing: it merges shuffle
    # partitions by BYTES, and these synthetic pair tasks are tiny in
    # bytes but quadratic in CPU — at scale each salt cell is GBs and
    # never coalesces, so coalescing is disabled for the scenario.
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_coal = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    # conf restore MUST survive scenario failures — a leaked -1
    # broadcast threshold would corrupt every later timed stage
    try:

        def keys(n: int, mega_frac: float):
            base = spark.range(n).select(
                F.concat(F.lit("d"), F.col("id")).alias("doc_id"), "id"
            )
            uniform_key = F.concat(F.lit("k"), (F.col("id") % (n // 8)))
            mega = int(n * mega_frac)
            key = (
                F.when(F.col("id") < mega, F.lit("MEGA")).otherwise(uniform_key)
                if mega
                else uniform_key
            )
            return base.select("doc_id", key.alias("block_key"))

        N = 200_000
        t0 = time.time()
        out["uniform_pairs"] = candidate_pairs(keys(N, 0.0)).count()
        out["uniform_wall_s"] = round(time.time() - t0, 3)

        t0 = time.time()
        pairs, dropped = tiered_pairs(keys(N, 0.1), cfg)
        out["tiered_pairs"] = pairs.dropDuplicates(["doc_id_1", "doc_id_2"]).count()
        out["tiered_wall_s"] = round(time.time() - t0, 3)
        out["dropped_blocks"] = [
            {"block_key": r["block_key"], "block_size": r["block_size"]}
            for r in dropped.collect()
        ]
        mega_n = int(N * 0.1)
        out["dropped_would_be_pairs"] = mega_n * (mega_n - 1) // 2

        # quadratic growth of the untiered path, measured: single MEGA key
        # -> one post-shuffle task enumerates the whole triangle
        for n in (20_000, 40_000):
            t0 = time.time()
            cnt = candidate_pairs(keys(n, 0.1)).count()
            out[f"untiered_{n}_pairs"] = cnt
            out[f"untiered_{n}_wall_s"] = round(time.time() - t0, 3)
        if out["untiered_20000_wall_s"] > 0:
            out["untiered_wall_ratio_2x_docs"] = round(
                out["untiered_40000_wall_s"] / out["untiered_20000_wall_s"], 2
            )

        # salt tier: one hot block in (max_block_size, ceiling] — ~3.1M
        # pairs all in ONE post-shuffle task for the plain equi-join vs
        # salt*(salt+1)/2 = 36 bounded-width cells for the salted triangle
        # join.  Two measurement traps, both hit and fixed here:
        #   1. the block key must NOT be a foldable literal — with
        #      F.lit("HOT") on both sides Catalyst constant-folds the join
        #      condition to TRUE and plans a naturally-parallel cartesian,
        #      erasing the skew (a synthetic-benchmark artifact; real keys
        #      come from scans and never fold);
        #   2. each pair carries a production-like scoring expression
        #      (md5-widened levenshtein, ~32-char operands — ~100k scored
        #      pairs/s/core, the same order as the real RO/JW kernels);
        #      bare COUNT enumerates pairs at ~1M+/s/task and understates
        #      the straggler 10x.
        # At 16k docs (128M pairs) the measured gap is 304.6s plain vs
        # 23.5s salted (13x) — too slow for a per-round bench, so the
        # committed scenario runs 2k docs and reports the same shape.
        hot = spark.range(2_000).select(
            F.concat(F.lit("h"), F.col("id")).alias("doc_id"),
            F.when(F.col("id") >= 0, F.lit("HOT")).alias("block_key"),
        )

        def _scored_wall(pairs_df) -> tuple[int, float]:
            t0 = time.time()
            row = pairs_df.select(
                F.count("*").alias("n"),
                F.sum(
                    F.levenshtein(F.md5("doc_id_1"), F.md5("doc_id_2"))
                ).alias("s"),
            ).collect()[0]
            return row["n"], round(time.time() - t0, 3)

        out["hot_plain_pairs"], out["hot_plain_scored_wall_s"] = _scored_wall(
            candidate_pairs(hot, dedup=False)
        )
        out["hot_salted_pairs"], out["hot_salted_scored_wall_s"] = _scored_wall(
            salted_candidate_pairs(hot, salt=cfg.salt_buckets, dedup=False)
        )
        if out["hot_salted_scored_wall_s"] > 0:
            out["hot_salt_speedup"] = round(
                out["hot_plain_scored_wall_s"] / out["hot_salted_scored_wall_s"], 2
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", prev_coal
        )
    return out


def run_bench(sf_dir: str, cpus: int, include_linkage: bool = True) -> dict:
    import __spark_entry__ as E
    from record_linkage_ldu_spark.operators import ann, dedup
    from record_linkage_ldu_spark.operators.cc import connected_components
    from record_linkage_ldu_spark.session import build_session
    from record_linkage_ldu_spark.sources.synth import synth_documents

    spark = build_session(
        app_name=f"rl-bench-{cpus}", master=f"local[{cpus}]"
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    extras: dict = {}

    def timed(name: str, fn) -> None:
        t0 = time.time()
        fn()
        timings[name] = round(time.time() - t0, 3)

    # calibration FIRST (the session is otherwise cold-identical for
    # every run) and again LAST: the mean tracks host load across the
    # whole suite, not just its first seconds
    calib_pre = calibrate(spark)

    qs = E.queries()

    if include_linkage:
        # end-to-end linkage: docs -> clusters (the north-star flow)
        docs = synth_documents(
            spark.read.parquet(f"{sf_dir}/customer.parquet")
        ).localCheckpoint(eager=True)
        n_docs = docs.count()
        extras["docs"] = n_docs

        from record_linkage_ldu_spark.plans.linkage import (
            LinkageConfig,
            LinkagePipeline,
        )

        def _linkage():
            res = LinkagePipeline(spark, LinkageConfig()).run(docs)
            extras["matches"] = res.matches.count()
            extras["clusters"] = res.clusters.select("cluster_id").distinct().count()

        timed("linkage_e2e", _linkage)
        extras["docs_per_sec"] = round(n_docs / timings["linkage_e2e"], 1)

        # cross-dataset linkage (the reference's primary LDU x HW
        # flow): a-copies as the left source, b/c-copies as the right
        from record_linkage_ldu_spark.plans.linkage import (
            CrossLinkagePipeline,
        )

        def _cross():
            left = docs.where(F.col("doc_id").startswith("a"))
            right = docs.where(~F.col("doc_id").startswith("a"))
            res = CrossLinkagePipeline(spark, LinkageConfig()).run(
                left, right
            )
            extras["cross_matches"] = res.matches.count()
            extras["cross_clusters"] = (
                res.clusters.select("cluster_id").distinct().count()
            )

        timed("cross_linkage_e2e", _cross)

        # pair scoring alone (the reference's 6-hour stage)
        def _pairs():
            scored = E._pair_scores(spark, sf_dir)
            extras["pairs_scored"] = scored.count()

        timed("pair_scores_native", _pairs)
        if timings["pair_scores_native"] > 0:
            extras["pairs_per_sec"] = round(
                extras["pairs_scored"] / timings["pair_scores_native"], 1
            )

    timed("minhash_dedup", lambda: _force(qs["minhash_near_dups"](spark, sf_dir)))
    timed("winnow_dedup", lambda: _force(qs["winnow_near_dups"](spark, sf_dir)))
    timed("ngram_jaccard", lambda: _force(qs["ngram_jaccard_dedup"](spark, sf_dir)))
    # asymmetric containment (sub-document dup detector): shares the
    # tiered candidate stage with ngram_jaccard, lang-only blocks
    timed("containment", lambda: _force(qs["containment_near_dups"](spark, sf_dir)))
    timed("simhash", lambda: _force(qs["simhash_near_dups"](spark, sf_dir)))
    # exact-similarity join via prefix filtering (no blocking metadata,
    # no recall loss) — the exact counterpart of the minhash row above.
    # t=0.9 here: the sf0.1 documents corpus is clique-dense (5.1M true
    # pairs at the driver query's t=0.7) and the bench row should time
    # the FILTER machinery, not the materialization of a 5M-row truth
    timed("prefix_filter", lambda: _force(
        dedup.prefix_filter_pairs(
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            threshold=0.9,
        )
    ))
    timed("cosine_topk", lambda: _force(qs["cosine_topk"](spark, sf_dir)))
    timed("lsh_ann", lambda: _force(qs["lsh_ann_topk"](spark, sf_dir)))
    # IVF: the KMeans index build is the amortized one-time step (in
    # production it persists via ann.save_ivf_index); bench the PROBE
    # path against a prebuilt index and record the build separately.
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    t0 = time.time()
    _centroids, _assigned = ann.ivf_index(emb, n_centroids=8)
    _centroids = _centroids.localCheckpoint(eager=True)
    _assigned = _assigned.localCheckpoint(eager=True)
    extras["ivf_index_build_s"] = round(time.time() - t0, 3)
    timed("ivf_ann", lambda: _force(
        ann.ivf_topk(
            emb,
            emb.where(F.col("vec_id") % 50 == 0),
            k=5,
            n_centroids=8,
            nprobe=4,
            index=(_centroids, _assigned),
        )
    ))
    timed("embedding_near_dups", lambda: _force(
        qs["embedding_near_dups"](spark, sf_dir)
    ))
    timed("semdedup", lambda: _force(qs["semdedup"](spark, sf_dir)))
    timed("text_analysis", lambda: _force(
        qs["lang_id"](spark, sf_dir)
        .join(qs["quality_score"](spark, sf_dir), "doc_id")
        .join(qs["token_count"](spark, sf_dir), "doc_id")
    ))
    # corpus pipeline: composed cleaning + decontamination + sharding
    # (one number for the operators/corpus.py family)
    timed("corpus_pipeline", lambda: _force(
        qs["corpus_filter"](spark, sf_dir)
        .join(qs["token_budget_shards"](spark, sf_dir), "doc_id")
        .join(qs["decontaminate"](spark, sf_dir), "doc_id", "left")
    ))
    # training-example prep: repetition signals + chunking + shuffle
    # over documents, PII scrub over the synthesized record text
    def _prep():
        _force(
            qs["repetition_signals"](spark, sf_dir)
            .join(qs["chunk_documents"](spark, sf_dir), "doc_id")
            .join(qs["corpus_shuffle"](spark, sf_dir), "doc_id")
        )
        _force(qs["pii_scrub"](spark, sf_dir))

    timed("prep_ops", _prep)
    # r4: line-level boilerplate removal + URL canonicalization (the
    # crawl-side dedup keys; line_dedup is the shuffle-heavy one —
    # explode -> census groupBy -> anti join -> reassembly groupBy)
    timed("line_dedup", lambda: _force(qs["line_dedup"](spark, sf_dir)))
    timed("url_canonicalize", lambda: _force(
        qs["url_canonicalize"](spark, sf_dir)
    ))
    # r4 retrieval/quality: BM25 sparse search + unigram-LM perplexity
    def _retrieval():
        _force(qs["bm25_search"](spark, sf_dir))
        _force(qs["unigram_lm_scores"](spark, sf_dir))

    timed("retrieval_quality", _retrieval)

    # r4c corpus-health pair: per-doc novelty + the named flood report.
    # The r4c pruning/provenance diagnostics (wnp_pruned_pairs,
    # pair_provenance) are sweep-validated but stay OUT of the
    # headline wall: they enumerate the full per-key pair universe
    # (~60s at sf0.1 — review-table work, not throughput ops), which
    # would swamp round-over-round suite comparability.
    def _r4c():
        _force(qs["shingle_novelty"](spark, sf_dir))
        _force(qs["template_floods"](spark, sf_dir))

    timed("r4c_ops", _r4c)

    # production-hash note (VERDICT r3 #8): the oracle-parity md5 path
    # vs the xxhash64 production knob, same operator + input, measured
    # side by side (the headline minhash_dedup row above is md5).
    docs_tbl = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for fn in ("md5", "xxhash64"):
        t0 = time.time()
        _force(dedup.minhash_near_duplicates(docs_tbl, hash_fn=fn))
        extras[f"minhash_{fn}_wall_s"] = round(time.time() - t0, 3)

    # adversarial-skew scenario (diagnostic — kept OUT of the headline
    # suite wall so round-over-round totals stay comparable)
    extras["skew"] = skew_stress(spark)

    calib_post = calibrate(spark)
    calib = round((calib_pre + calib_post) / 2, 3)
    norm = round(CALIB_REF_S / calib, 4) if calib > 0 else 1.0

    total = round(sum(timings.values()), 3)
    sf_match = re.search(r"sf([\d.]+)", sf_dir)
    out = {
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf_match.group(1)) if sf_match else None,
        "cpus": cpus,
        "calib_pre_s": calib_pre,
        "calib_post_s": calib_post,
        "calib_ref_s": CALIB_REF_S,
        "host_factor": norm,
        "value_normalized": round(total * norm, 3),
        "queries_normalized": {
            k: round(v * norm, 3) for k, v in timings.items()
        },
        **extras,
    }
    if "pairs_per_sec" in out:
        out["pairs_per_sec_normalized"] = round(
            out["pairs_per_sec"] / norm, 1
        )
    if "docs_per_sec" in out:
        out["docs_per_sec_normalized"] = round(
            out["docs_per_sec"] / norm, 1
        )
    spark.stop()
    return out


def _scaled_documents(spark, sf_dir: str, mult: int):
    """MULT disjoint copies of the documents corpus for the sf1 dedup
    rows: copy i prefixes EVERY token with a per-copy tag, so every
    shingle/fingerprint/band key is bijectively remapped per copy —
    within-copy near-dup structure identical, zero cross-copy
    collisions (pair volume grows linearly in MULT, the same
    disjointness discipline as bench_scaling._tagged)."""
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    copies = []
    for i in range(mult):
        c = base.select(
            (F.col("doc_id") + F.lit(i * 10_000_019)).alias("doc_id"),
            (
                F.col("text")
                if i == 0
                else F.regexp_replace("text", r"(\S+)", f"q{i}x$1")
            ).alias("text"),
            # metadata blocks (lang, len buckets) must be disjoint per
            # copy too, or the metadata-blocked families
            # (ngram_jaccard, containment) see 16x docs in the SAME
            # blocks = 256x pair volume — a workload-shape change, not
            # a scale-up (measured: 45-54x wall at 16x docs before
            # this tag; same discipline as bench_scaling._tagged)
            (
                F.col("lang")
                if i == 0
                else F.concat(F.col("lang"), F.lit(f"-{i}"))
            ).alias("lang"),
            "source",
            "n_chars",
        )
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def run_bench_sf1(cpus: int, mult: int = 16) -> dict:
    """The at-scale contract row (VERDICT r4 item 3): linkage_e2e over
    MULT tagged copies of the sf0.1 corpus (528k docs at the default
    16x — the BENCH.md series, now emitted in the same JSON schema as
    the per-round bench) plus the dedup families over a MULT-scaled
    documents corpus.  The gate: per-doc linkage cost flat within 2x
    of the sf0.1 row (docs/s RISES with corpus size here because the
    33k-doc run is overhead-bound)."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "tools"))
    import bench_scaling

    from record_linkage_ldu_spark.operators import dedup
    from record_linkage_ldu_spark.plans.linkage import (
        LinkageConfig,
        LinkagePipeline,
    )
    from record_linkage_ldu_spark.session import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(
        app_name=f"rl-bench-sf1-{cpus}", master=f"local[{cpus}]"
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    extras: dict = {}

    def timed(name: str, fn) -> None:
        t0 = time.time()
        fn()
        timings[name] = round(time.time() - t0, 3)

    calib_pre = calibrate(spark)

    docs = bench_scaling._docs(spark, sf_dir, mult).localCheckpoint(
        eager=True
    )
    n_docs = docs.count()
    extras["docs"] = n_docs

    def _linkage():
        res = LinkagePipeline(spark, LinkageConfig()).run(docs)
        extras["matches"] = res.matches.count()
        extras["clusters"] = (
            res.clusters.select("cluster_id").distinct().count()
        )

    timed("linkage_e2e", _linkage)
    extras["docs_per_sec"] = round(n_docs / timings["linkage_e2e"], 1)

    corpus_docs = _scaled_documents(spark, sf_dir, mult).localCheckpoint(
        eager=True
    )
    extras["corpus_docs"] = corpus_docs.count()
    timed(
        "minhash_dedup",
        lambda: _force(
            dedup.minhash_near_duplicates(corpus_docs, threshold=0.3)
        ),
    )
    timed(
        "winnow_dedup",
        lambda: _force(
            dedup.winnow_near_duplicates(corpus_docs, min_shared=2)
        ),
    )
    timed(
        "simhash",
        lambda: _force(
            dedup.simhash_near_duplicates(
                dedup.simhash_sketch(corpus_docs), max_hamming=3, n_bands=4
            )
        ),
    )
    timed(
        "ngram_jaccard",
        lambda: _force(
            dedup.ngram_jaccard_pairs(
                corpus_docs.withColumn(
                    "len_bucket",
                    F.floor(F.col("n_chars") / 100).cast("long"),
                ),
                block_cols=("lang", "len_bucket"),
            )
        ),
    )
    timed(
        "containment",
        lambda: _force(
            dedup.containment_pairs(
                corpus_docs, block_cols=("lang",), n=3, threshold=0.6
            )
        ),
    )

    calib_post = calibrate(spark)
    calib = round((calib_pre + calib_post) / 2, 3)
    norm = round(CALIB_REF_S / calib, 4) if calib > 0 else 1.0
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": 1,
        "scale_mult": mult,
        "cpus": cpus,
        "calib_pre_s": calib_pre,
        "calib_post_s": calib_post,
        "calib_ref_s": CALIB_REF_S,
        "host_factor": norm,
        "value_normalized": round(total * norm, 3),
        "queries_normalized": {
            k: round(v * norm, 3) for k, v in timings.items()
        },
        "docs_per_sec_normalized": round(extras["docs_per_sec"] / norm, 1),
        **extras,
    }
    spark.stop()
    return out


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if "--sf" in sys.argv and sys.argv[sys.argv.index("--sf") + 1] == "1":
        print(json.dumps(run_bench_sf1(cpus)))
    else:
        print(json.dumps(run_bench(sf_dir, cpus)))

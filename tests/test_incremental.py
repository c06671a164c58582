"""Incremental (micro-batch) linkage: per-batch work is bounded by the
touched blocks / new-side pairs, results equal the full batch run, and
the Structured-Streaming wrapper drives the same path end-to-end."""

from pyspark.sql import functions as F

from record_linkage_ldu_spark.plans.linkage import (
    LinkageConfig,
    LinkagePipeline,
)
from record_linkage_ldu_spark.sources.synth import synth_documents
from record_linkage_ldu_spark.streaming.incremental import (
    incremental_linkage_batch,
    stream_documents_to_clusters,
)


def _docs(spark):
    return synth_documents(
        spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    )


def _cluster_set(df):
    rows = df.select("doc_id", "cluster_id").collect()
    return {(r["doc_id"], r["cluster_id"]) for r in rows}


def test_incremental_two_batches_match_full_run(spark, tmp_path):
    docs = _docs(spark).localCheckpoint(eager=True)
    batch1 = docs.where(F.substring("doc_id", 1, 1) != "c")
    batch2 = docs.where(F.substring("doc_id", 1, 1) == "c")
    store = str(tmp_path / "store")

    s1 = incremental_linkage_batch(spark, batch1, store)
    s2 = incremental_linkage_batch(spark, batch2, store)

    full = LinkagePipeline(spark, LinkageConfig()).run(docs)
    got = _cluster_set(spark.read.parquet(f"{store}/clusters"))
    want = _cluster_set(full.clusters)
    assert got == want

    # batch 2 scored only new-side pairs, strictly less than the full
    # pipeline's candidate set
    full_pairs = full.pairs.count()
    assert 0 < s2["pairs_scored"] < full_pairs
    assert s2["docs"] == docs.count()


def test_incremental_replay_is_idempotent(spark, tmp_path):
    docs = _docs(spark).localCheckpoint(eager=True)
    store = str(tmp_path / "store")
    s1 = incremental_linkage_batch(spark, docs, store)
    before = _cluster_set(spark.read.parquet(f"{store}/clusters"))
    s2 = incremental_linkage_batch(spark, docs, store)  # replay same batch
    after = _cluster_set(spark.read.parquet(f"{store}/clusters"))
    assert before == after
    assert s2["new_docs"] == 0
    assert s2["pairs_scored"] == 0


def test_incremental_work_stays_flat_as_store_grows(spark, tmp_path):
    """Round-3 contract: per-batch candidate work must NOT grow with
    the store.  The pair join's input is new keys + stored keys of
    TOUCHED blocks only (broadcast semi-join pruning), so equal-size
    batches of disjoint entities keep both the key rows entering the
    join and the scored pairs ~flat — and the accumulated result still
    equals the full batch run."""
    docs = _docs(spark).localCheckpoint(eager=True)
    ek = F.substring("doc_id", 2, 9).cast("long")
    store = str(tmp_path / "store")
    stats = []
    for b in range(4):
        batch = docs.where(ek % 4 == b)
        stats.append(incremental_linkage_batch(spark, batch, store))

    key_rows = [s["candidate_key_rows"] for s in stats]
    pairs = [s["pairs_scored"] for s in stats]
    # batches 2..4 run against an ever-larger store; work per batch
    # must stay within a constant factor of the second batch's (the
    # first has no store side at all)
    assert key_rows[3] <= 2 * key_rows[1], key_rows
    assert pairs[3] <= 2 * pairs[1], pairs

    full = LinkagePipeline(spark, LinkageConfig()).run(docs)
    got = _cluster_set(spark.read.parquet(f"{store}/clusters"))
    assert got == _cluster_set(full.clusters)


def test_streaming_wrapper_available_now(spark, tmp_path):
    docs = _docs(spark).localCheckpoint(eager=True)
    src = str(tmp_path / "src")
    docs.where(F.substring("doc_id", 1, 1) == "a").coalesce(1).write.parquet(
        src
    )
    docs.where(F.substring("doc_id", 1, 1) != "a").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    store = str(tmp_path / "store")
    q = stream_documents_to_clusters(
        spark, src, store, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)

    full = LinkagePipeline(spark, LinkageConfig()).run(docs)
    got = _cluster_set(spark.read.parquet(f"{store}/clusters"))
    assert got == _cluster_set(full.clusters)


def test_crash_mid_commit_rolls_back_and_replays(spark, tmp_path, monkeypatch):
    """ADVICE r3 (medium): a crash between the records append and the
    keys/edges appends used to leave docs permanently unlinkable.  The
    batch commit is now manifest-gated: kill the commit right after
    the records append (before keys/edges), replay the batch, and the
    final store must equal a clean run — recover_store rolls the
    half-committed files back so the replay re-ingests everything."""
    import pyspark.sql.readwriter as rw

    from record_linkage_ldu_spark.streaming import incremental as inc

    docs = _docs(spark).localCheckpoint(eager=True)
    batch1 = docs.where(F.substring("doc_id", 1, 1) != "c")
    batch2 = docs.where(F.substring("doc_id", 1, 1) == "c")
    store = str(tmp_path / "store")

    incremental_linkage_batch(spark, batch1, store)
    records_files_before = set(
        __import__("os").listdir(f"{store}/records")
    )

    real_parquet = rw.DataFrameWriter.parquet

    def crashing_parquet(self, path, *a, **kw):
        if path.rstrip("/").endswith("/keys") and self._df.sparkSession is spark:
            raise RuntimeError("simulated crash between records and keys append")
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", crashing_parquet)
    try:
        incremental_linkage_batch(spark, batch2, store)
        raised = False
    except RuntimeError:
        raised = True
    monkeypatch.setattr(rw.DataFrameWriter, "parquet", real_parquet)
    assert raised
    # the crash happened AFTER the records append: batch-2 part files
    # are sitting in records with no matching keys/edges
    import os as _os

    assert set(_os.listdir(f"{store}/records")) != records_files_before
    manifest = __import__("json").load(open(f"{store}/{inc.BATCH_MANIFEST}"))
    assert manifest["status"] == "in-progress"

    # replay: recover_store (called at batch entry) rolls back, then
    # the batch re-ingests from scratch
    s2 = incremental_linkage_batch(spark, batch2, store)
    assert s2["new_docs"] == batch2.count()

    full = LinkagePipeline(spark, LinkageConfig()).run(docs)
    got = _cluster_set(spark.read.parquet(f"{store}/clusters"))
    assert got == _cluster_set(full.clusters)
    # every stored record has its block keys (no silent-loss docs):
    # the records and keys tables agree on the ingested doc set
    recs = spark.read.parquet(f"{store}/records").select("doc_id")
    keyed = spark.read.parquet(f"{store}/keys").select("doc_id").distinct()
    assert recs.join(keyed, "doc_id", "left_anti").count() == 0


def test_incremental_entity_ids_survive_relabeling(spark, tmp_path):
    """Stable ids persist across batches even when CC labels change:
    batch 2 adds the 'a' copies, whose smaller doc_ids RELABEL every
    cluster — the stable ids must stay the batch-1 ids."""
    docs = _docs(spark).localCheckpoint(eager=True)
    batch1 = docs.where(F.substring("doc_id", 1, 1) != "a")
    batch2 = docs.where(F.substring("doc_id", 1, 1) == "a")
    store = str(tmp_path / "store")

    incremental_linkage_batch(spark, batch1, store)
    ids1 = {
        r["doc_id"]: r["stable_id"]
        for r in spark.read.parquet(f"{store}/entity_ids")
        .where(F.col("seq") == 1)
        .collect()
    }
    incremental_linkage_batch(spark, batch2, store)
    stored = spark.read.parquet(f"{store}/entity_ids")
    ids2 = {
        r["doc_id"]: r["stable_id"]
        for r in stored.where(F.col("seq") == 2).collect()
    }
    clusters2 = {
        r["doc_id"]: r["cluster_id"]
        for r in spark.read.parquet(f"{store}/clusters").collect()
    }
    # every batch-1 doc keeps its batch-1 stable id
    changed = {d for d in ids1 if ids2[d] != ids1[d]}
    assert changed == set()
    # ...even though the CC label of linked 'b' docs moved to the new
    # 'a' member (the relabel the carryover exists to absorb)
    relabeled = {
        d for d in ids1
        if d in clusters2 and clusters2[d] != ids1[d]
        and clusters2[d].startswith("a")
    }
    assert relabeled, "fixture should relabel at least one cluster"
    # new 'a' docs joining an existing cluster adopt its carried id
    a_in_b_cluster = [
        d for d, c in clusters2.items()
        if d.startswith("a") and not ids2[d].startswith("a")
    ]
    assert a_in_b_cluster, "a-docs should join existing entities"
    # stable ids partition docs exactly like the clusters do
    by_cluster = {}
    for d, c in clusters2.items():
        by_cluster.setdefault(c, set()).add(ids2[d])
    assert all(len(s) == 1 for s in by_cluster.values())
    # distinct stable ids = distinct clusters (bijection)
    assert len(set(ids2.values())) == len(by_cluster)


def test_compact_store_preserves_content(spark, tmp_path):
    """Compaction shrinks file counts, keeps every reader's view
    byte-identical (clusters, current entity ids), and the store
    keeps ingesting afterwards."""
    from record_linkage_ldu_spark.streaming.incremental import (
        compact_store,
    )

    docs = _docs(spark).localCheckpoint(eager=True)
    b1 = docs.where(F.substring("doc_id", 1, 1) == "b")
    b2 = docs.where(F.substring("doc_id", 1, 1) == "c")
    b3 = docs.where(F.substring("doc_id", 1, 1) == "a")
    store = str(tmp_path / "store")
    incremental_linkage_batch(spark, b1, store)
    incremental_linkage_batch(spark, b2, store)

    pre_clusters = _cluster_set(spark.read.parquet(f"{store}/clusters"))
    pre_ids = {
        (r["doc_id"], r["stable_id"])
        for r in spark.read.parquet(f"{store}/entity_ids")
        .where(F.col("seq") == 2)
        .collect()
    }
    stats = compact_store(spark, store, files_per_table=2)
    for name, s in stats.items():
        assert s["files_after"] <= max(2, s["files_before"]), name
    # entity_ids history dropped to the current seq only
    seqs = {
        r["seq"]
        for r in spark.read.parquet(f"{store}/entity_ids")
        .select("seq").distinct().collect()
    }
    assert seqs == {2}
    post_ids = {
        (r["doc_id"], r["stable_id"])
        for r in spark.read.parquet(f"{store}/entity_ids").collect()
    }
    assert post_ids == pre_ids
    assert _cluster_set(spark.read.parquet(f"{store}/clusters")) == pre_clusters
    # the store still ingests; id carryover still works off seq 2
    incremental_linkage_batch(spark, b3, store)
    ids3 = {
        r["doc_id"]: r["stable_id"]
        for r in spark.read.parquet(f"{store}/entity_ids")
        .where(F.col("seq") == 3)
        .collect()
    }
    pre_map = dict(pre_ids)
    assert all(ids3[d] == sid for d, sid in pre_map.items())


def test_compaction_crash_windows_recover(spark, tmp_path):
    """A compaction swap killed mid-rename never loses a primary
    table: whichever complete copy exists (.compact_tmp or
    .compact_old) is promoted on the next recover."""
    import os
    import shutil

    from record_linkage_ldu_spark.streaming.incremental import (
        recover_store,
    )

    docs = _docs(spark).localCheckpoint(eager=True)
    store = str(tmp_path / "store")
    incremental_linkage_batch(spark, docs, store)
    records = os.path.join(store, "records")
    pre = _cluster_set(
        spark.read.parquet(records).select(
            "doc_id", F.col("doc_id").alias("cluster_id")
        )
    )

    # window (b): live missing, tmp (new) complete
    shutil.copytree(records, records + ".compact_tmp")
    shutil.move(records, records + ".compact_old")
    assert recover_store(spark, store)
    assert _cluster_set(
        spark.read.parquet(records).select(
            "doc_id", F.col("doc_id").alias("cluster_id")
        )
    ) == pre
    assert not os.path.exists(records + ".compact_tmp")
    assert not os.path.exists(records + ".compact_old")

    # window (c): live intact, stale .compact_old left behind
    shutil.copytree(records, records + ".compact_old")
    recover_store(spark, store)
    assert not os.path.exists(records + ".compact_old")
    assert os.path.isdir(records)


def test_delete_documents_tombstone_semantics(spark, tmp_path):
    """Right-to-erasure over the incremental store: the deleted doc
    vanishes from every reader, its partner's cluster splits exactly
    as a fresh run over the surviving corpus would, the census stays
    consistent, deletion is idempotent AND permanent (re-ingestion is
    ignored), and compaction physically purges the rows."""
    from record_linkage_ldu_spark.operators.blocking import BlockingConfig
    from record_linkage_ldu_spark.streaming.incremental import (
        compact_store,
        delete_documents,
    )

    # window-free blocking: per-record keys only, so a fresh run over
    # the survivors is pair-for-pair comparable (the SN window tier
    # re-ranks neighbors and is deliberately not re-run on delete)
    cfg = LinkageConfig(
        blocking=BlockingConfig(sn_window=0, use_sorted_neighborhood=True)
    )
    docs = _docs(spark).localCheckpoint(eager=True)
    store = str(tmp_path / "store")
    incremental_linkage_batch(spark, docs, store, cfg=cfg)

    before = spark.read.parquet(f"{store}/clusters")
    sizes = {
        r["cluster_id"]: r["n"]
        for r in before.groupBy("cluster_id").agg(
            F.count("*").alias("n")
        ).collect()
    }
    cid2 = next(c for c, n in sorted(sizes.items()) if n == 2)
    victim, partner = sorted(
        r["doc_id"]
        for r in before.where(F.col("cluster_id") == cid2).collect()
    )

    stats = delete_documents(spark, store, [victim], cfg=cfg)
    assert stats["requested"] == 1 and stats["deleted"] == 1
    after = spark.read.parquet(f"{store}/clusters")
    ids_after = {r["doc_id"] for r in after.select("doc_id").collect()}
    assert victim not in ids_after and partner in ids_after
    partner_cid = after.where(F.col("doc_id") == partner).collect()[0][
        "cluster_id"
    ]
    assert after.where(F.col("cluster_id") == partner_cid).count() == 1

    # equivalence: clusters == a fresh pipeline run over the survivors
    full = LinkagePipeline(spark, cfg).run(
        docs.where(F.col("doc_id") != victim)
    )
    assert _cluster_set(after) == _cluster_set(full.clusters)

    # census == recount of surviving keys
    census = {
        r["block_key"]: r["block_size"]
        for r in spark.read.parquet(f"{store}/census").collect()
    }
    keys = spark.read.parquet(f"{store}/keys").where(
        F.col("doc_id") != victim
    )
    recount = {
        r["block_key"]: r["n"]
        for r in keys.groupBy("block_key").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert census == recount

    # idempotent re-delete
    assert delete_documents(spark, store, [victim], cfg=cfg)["deleted"] == 0

    # permanent: re-ingesting the tombstoned id is ignored
    s = incremental_linkage_batch(
        spark, docs.where(F.col("doc_id") == victim), store, cfg=cfg
    )
    assert s["new_docs"] == 0
    assert victim not in {
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/clusters")
        .select("doc_id")
        .collect()
    }

    # compaction physically purges the tombstoned rows, content intact
    compact_store(spark, store)
    raw_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/records")
        .select("doc_id")
        .collect()
    }
    assert victim not in raw_ids
    assert _cluster_set(spark.read.parquet(f"{store}/clusters")) == (
        _cluster_set(full.clusters)
    )
    # stable ids: the current snapshot no longer contains the victim
    ids_tbl = spark.read.parquet(f"{store}/entity_ids")
    cur = ids_tbl.agg(F.max("seq")).collect()[0][0]
    cur_ids = {
        r["doc_id"]
        for r in ids_tbl.where(F.col("seq") == cur).collect()
    }
    assert victim not in cur_ids and partner in cur_ids


def test_store_stats_snapshot(spark, tmp_path):
    """store_stats reflects ingest, deletion, and commit state —
    read-only (a second call changes nothing)."""
    from record_linkage_ldu_spark.streaming.incremental import (
        delete_documents,
        store_stats,
    )

    docs = _docs(spark).localCheckpoint(eager=True)
    store = str(tmp_path / "store")
    incremental_linkage_batch(spark, docs, store)
    s1 = store_stats(spark, store)
    assert s1["last_commit_status"] == "complete"
    assert s1["tombstoned_docs"] == 0
    assert s1["live_docs"] == docs.count()
    assert s1["tables"]["records"]["rows"] == docs.count()
    assert s1["entity_id_seqs"] == 1 and s1["entities"] > 0
    victim = docs.select("doc_id").orderBy("doc_id").limit(1).collect()[0][
        "doc_id"
    ]
    delete_documents(spark, store, [victim])
    s2 = store_stats(spark, store)
    assert s2["tombstoned_docs"] == 1
    assert s2["live_docs"] == docs.count() - 1
    # records table still physically holds the row until compaction
    assert s2["tables"]["records"]["rows"] == docs.count()
    assert s2["entity_id_seqs"] == 2
    assert store_stats(spark, store) == s2


def test_incremental_dedup_batch_guard(spark, tmp_path):
    """Ingest-time near-dup guard: flags fire only on VERIFIED
    Jaccard >= threshold (carried in the flag row), a later batch's
    near-copy resolves to the stored KEPT representative (no chains),
    within-batch copies resolve through CC to the min-id rep, replay
    is idempotent, and the store refuses mismatched sketch params."""
    import pytest as _pytest

    from record_linkage_ldu_spark.streaming.incremental import (
        incremental_dedup_batch,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    mk = lambda i, txt: (f"d{i:03d}", txt)  # noqa: E731
    # batch 1: distinct docs + one internal near-pair (d002 ~ d001)
    b1 = spark.createDataFrame(
        [
            mk(1, base * 3 + "alpha ending one"),
            mk(2, base * 3 + "alpha ending two"),
            mk(3, "completely different words entirely here now " * 4),
        ],
        "doc_id string, text string",
    )
    store = str(tmp_path / "dedup_store")
    s1 = incremental_dedup_batch(spark, b1, store)
    assert s1["new_docs"] == 3
    assert s1["flagged_within_batch"] == 1  # d002 -> d001
    assert s1["kept"] == 2
    # batch 2: near-copy of stored d001 + one fresh doc
    b2 = spark.createDataFrame(
        [
            mk(4, base * 3 + "alpha ending three"),
            mk(5, "brand new content with no overlap at all " * 4),
        ],
        "doc_id string, text string",
    )
    s2 = incremental_dedup_batch(spark, b2, store)
    assert s2["flagged_vs_store"] == 1 and s2["kept"] == 1
    flags = {
        r["doc_id"]: r for r in spark.read.parquet(f"{store}/flags").collect()
    }
    assert flags["d002"]["duplicate_of"] == "d001"
    assert flags["d004"]["duplicate_of"] == "d001"  # kept rep, no chain
    # every flag is VERIFIED: jaccard present and >= threshold
    for r in flags.values():
        assert r["jaccard"] is not None and r["jaccard"] >= 0.7, r
    # flags always point at docs whose bands/shingles are IN the store
    kept_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/bands")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert {r["duplicate_of"] for r in flags.values()} <= kept_ids
    # probe pruning is real: batch 2 touched none of d003's band keys,
    # so its probe saw only d001's rows (d003's 4 bands excluded)
    per_doc_bands = {
        r["doc_id"]: r["n"]
        for r in spark.read.parquet(f"{store}/bands")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # only d001's COLLIDING bands are probed (3 of its 4 here — the
    # 'ending three' drift moves one band), never d003's
    assert 0 < s2["probe_band_rows"] <= per_doc_bands["d001"]
    assert s2["probe_band_rows"] < sum(per_doc_bands.values())
    # replay idempotent
    s3 = incremental_dedup_batch(spark, b2, store)
    assert s3["new_docs"] == 0
    assert spark.read.parquet(f"{store}/flags").count() == 2
    # sketch-parameter pinning: a different hash family is refused
    with _pytest.raises(ValueError, match="different sketch parameters"):
        incremental_dedup_batch(spark, b2, store, hash_fn="xxhash64")


def test_incremental_rejects_sparsify_top_k(spark, tmp_path):
    """ADVICE r4: sparsify_top_k is batch-only — the incremental store
    persists unscored edges, so a nonzero knob must refuse loudly
    instead of silently diverging from the batch pipeline's clusters.
    All three store-mutating entry points carry the guard."""
    import pytest as _pytest

    from record_linkage_ldu_spark.streaming.incremental import (
        delete_documents,
        recover_store,
    )

    cfg = LinkageConfig(sparsify_top_k=5)
    store = str(tmp_path / "store")
    with _pytest.raises(ValueError, match="batch-only"):
        incremental_linkage_batch(spark, _docs(spark), store, cfg=cfg)
    with _pytest.raises(ValueError, match="batch-only"):
        recover_store(spark, store, cfg=cfg)
    with _pytest.raises(ValueError, match="batch-only"):
        delete_documents(spark, store, ["a000000001"], cfg=cfg)
    # the default (0) path is unaffected
    stats = incremental_linkage_batch(spark, _docs(spark), store)
    assert stats["new_docs"] > 0


def test_compaction_cadence_under_churn(spark, tmp_path):
    """VERDICT r4 item 8: N micro-batches + deletions drive file-count
    (read-amplification) growth; compaction returns it to baseline,
    physically purges tombstoned rows, keeps every reader's view
    identical — and a batch REPLAYED after compaction is still a
    no-op, including for deleted docs (the permanent-deletion
    contract survives the rewrite)."""
    from record_linkage_ldu_spark.streaming.incremental import (
        compact_store,
        delete_documents,
        store_stats,
    )

    docs = _docs(spark).localCheckpoint(eager=True)
    batches = [
        docs.where((F.crc32(F.col("doc_id")) % 4) == i) for i in range(4)
    ]
    store = str(tmp_path / "store")
    for b in batches:
        incremental_linkage_batch(spark, b, store)
    victims = [
        r["doc_id"]
        for r in docs.select("doc_id").orderBy("doc_id").limit(5).collect()
    ]
    d = delete_documents(spark, store, victims)
    assert d["deleted"] == 5

    pre = store_stats(spark, store)
    # churn is real: every batch appended at least one part file
    assert pre["tables"]["records"]["files"] >= 4
    assert pre["entity_id_seqs"] >= 4
    pre_clusters = _cluster_set(spark.read.parquet(f"{store}/clusters"))
    live_pre = pre["live_docs"]

    stats = compact_store(spark, store, files_per_table=2)
    post = store_stats(spark, store)
    # read amplification back to baseline on every append table
    for name, s in post["tables"].items():
        if name in stats:
            assert s["files"] <= 2, (name, s)
    # tombstoned rows physically purged, tombstones retained, view equal
    rec_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/records")
        .select("doc_id").collect()
    }
    assert not (rec_ids & set(victims))
    assert post["tombstoned_docs"] == 5
    assert post["live_docs"] == live_pre
    assert post["entity_id_seqs"] == 1
    assert (
        _cluster_set(spark.read.parquet(f"{store}/clusters")) == pre_clusters
    )

    # replay after compaction: still a no-op, even for a batch that
    # contains deleted docs (tombstone survives the rewrite)
    replay = incremental_linkage_batch(spark, batches[0], store)
    assert replay["new_docs"] == 0
    assert (
        _cluster_set(spark.read.parquet(f"{store}/clusters")) == pre_clusters
    )
    assert store_stats(spark, store)["tombstoned_docs"] == 5


def _tiered_cfg():
    """Default blocking with a tiny cap: on the sf0.001 fixture the
    12-doc soundex blocks fall in the drop tier and the 3-6 doc blocks
    in the salted tier, so every tier and the drop census run."""
    from record_linkage_ldu_spark.operators.blocking import BlockingConfig

    return LinkageConfig(
        blocking=BlockingConfig(max_block_size=2, salt_drop_factor=3)
    )


def _store_recount(spark, store, cfg):
    """Every batch counter, recounted in plain Python from the store's
    Parquet tables."""
    import os

    def rows(table, *cols):
        path = f"{store}/{table}"
        if not os.path.isdir(path):
            return []
        return [tuple(r) for r in spark.read.parquet(path).select(*cols).collect()]

    tomb = {d for (d,) in rows("tombstones", "doc_id")}
    ids = rows("entity_ids", "doc_id", "stable_id", "seq")
    cur = max((s for _, _, s in ids), default=None)
    ceiling = cfg.blocking.max_block_size * cfg.blocking.salt_drop_factor
    return {
        "docs": len({d for (d,) in rows("records", "doc_id")} - tomb),
        "edges": sum(
            1
            for a, b in rows("edges", "doc_id_1", "doc_id_2")
            if a not in tomb and b not in tomb
        ),
        "clusters": len({c for (c,) in rows("clusters", "cluster_id")}),
        "entities": len({s for _, s, q in ids if q == cur}),
        "dropped_blocks": sum(
            1 for (n,) in rows("census", "block_size") if n > ceiling
        ),
    }


def _store_digest(spark, store) -> str:
    """sha256 over the sorted rows of the clusters, edges and
    entity_ids tables."""
    import hashlib

    h = hashlib.sha256()
    for table, cols in (
        ("clusters", ("doc_id", "cluster_id")),
        ("edges", ("doc_id_1", "doc_id_2")),
        ("entity_ids", ("doc_id", "stable_id", "seq")),
    ):
        rows = spark.read.parquet(f"{store}/{table}").select(*cols).collect()
        h.update(repr(sorted(tuple(r) for r in rows)).encode())
    return h.hexdigest()


def _counter_scenario(spark, store):
    """Seed batch, second batch, zero-new replay, deletion, then a
    batch with tombstones present (it also re-sends the deleted docs,
    which must stay out).  Yields each batch's returned counters with
    the store recount and the live-doc delta after it."""
    from record_linkage_ldu_spark.streaming.incremental import (
        delete_documents,
    )

    cfg = _tiered_cfg()
    docs = _docs(spark).localCheckpoint(eager=True)
    first = F.substring("doc_id", 1, 1)
    victims = ["a000000001", "a000000002"]
    calls = [
        docs.where(first == "a"),
        docs.where(first == "c"),
        docs.where(first == "c"),
        "delete",
        docs.where((first == "b") | F.col("doc_id").isin(victims)),
    ]
    live = 0
    for batch in calls:
        if isinstance(batch, str):
            delete_documents(spark, store, victims, cfg=cfg)
            live -= len(victims)
            continue
        stats = incremental_linkage_batch(spark, batch, store, cfg=cfg)
        recount = _store_recount(spark, store, cfg)
        yield stats, recount, recount["docs"] - live
        live = recount["docs"]


# _counter_scenario's store as written when the counters re-read the
# store: counting from pinned frames must not change a stored row or
# entity id
_COUNTER_SCENARIO_DIGEST = (
    "3ba9ea547e0ae6d496e9cd4190a8cffdcc0308227d70f530907286d4509faeac"
)


def test_incremental_counters_equal_store_recount(spark, tmp_path):
    """Every counter a batch returns equals an independent recount of
    the store, on every call shape: seed, growth, zero-new replay and
    a batch after deletion.  The counters come from frames the batch
    pinned, so this is what keeps them honest."""
    store = str(tmp_path / "store")
    new_docs = []
    for stats, recount, delta in _counter_scenario(spark, store):
        for k, v in recount.items():
            assert stats[k] == v, (k, stats, recount)
        assert stats["new_docs"] == delta, (stats, delta)
        assert len(stats["dropped_block_keys"]) == stats["dropped_blocks"]
        new_docs.append(stats["new_docs"])
    assert new_docs == [150, 30, 0, 150]
    assert _store_digest(spark, store) == _COUNTER_SCENARIO_DIGEST


# jobs of the ceiling test's batch on local[8]: 91-92 while the
# scoring plan ran twice and the counters re-read the store, 70-71
# while the store reads inferred their schemas and the counters ran
# count jobs, 53 with both observed or read with a known schema; any
# one of those regressions crosses the ceiling
_JOB_CEILING = 56


def test_incremental_batch_job_ceiling(spark, tmp_path, monkeypatch):
    """One small micro-batch into a seeded store stays under a Spark
    job ceiling: the scoring plan runs once (pinned) and the returned
    counters never re-read the store.  The batch also hands its
    new-keys side to the tier stack as the broadcast side."""
    from record_linkage_ldu_spark.operators import blocking

    docs = _docs(spark).localCheckpoint(eager=True)
    first = F.substring("doc_id", 1, 1)
    store = str(tmp_path / "store")
    incremental_linkage_batch(spark, docs.where(first != "c"), store)
    batch = docs.where(first == "c").localCheckpoint(eager=True)
    tier_calls = []
    tiered_pairs = blocking.tiered_pairs

    def recording_tiered_pairs(*args, **kwargs):
        tier_calls.append(kwargs)
        return tiered_pairs(*args, **kwargs)

    monkeypatch.setattr(blocking, "tiered_pairs", recording_tiered_pairs)
    sc = spark.sparkContext
    group = f"job-ceiling-{id(tmp_path)}"
    sc.setJobGroup(group, "one incremental micro-batch")
    try:
        stats = incremental_linkage_batch(spark, batch, store)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert stats["new_docs"] == 30
    assert jobs <= _JOB_CEILING, jobs
    assert tier_calls, "the batch never reached blocking.tiered_pairs"
    assert all(kw.get("broadcast_left") is True for kw in tier_calls), (
        tier_calls
    )

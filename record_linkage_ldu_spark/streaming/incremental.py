"""Incremental linkage store and its Structured-Streaming surface.

The reference pipeline is batch (SURVEY.md §2.9: no streaming), and
the engine's resumability comes from stage checkpoints.  This module
keeps a record store that new documents join without a batch re-run:

  * ``incremental_linkage_batch`` — one micro-batch: the new documents
    are normalized, blocked against the stored records through the
    same tier stack as batch linkage, scored and ruled; matches are
    appended to the edge store and the cluster table is rewritten.
  * ``stream_documents_to_clusters`` — the same step driven by
    ``foreachBatch`` over a document stream.
  * ``delete_documents`` / ``compact_store`` / ``recover_store`` /
    ``store_stats`` — tombstoned deletes, file compaction, roll-back
    of a half-committed batch and an operational snapshot.
  * ``incremental_dedup_batch`` — the MinHash ingest near-duplicate
    guard over its own band store.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BATCH_MANIFEST = "_batch_manifest.json"
_STORE_APPEND_TABLES = (
    "records", "keys", "edges", "entity_ids", "tombstones"
)


def _read_tombstones(spark, store_dir: str):
    """The store's deletion set: ``tombstones(doc_id)`` (append-only,
    Iceberg delete-file model — see :func:`delete_documents`), or None
    when no deletion has ever happened."""
    path = os.path.join(store_dir, "tombstones")
    if not os.path.isdir(path) or not _data_files(path):
        return None
    return spark.read.parquet(path).select("doc_id").distinct()


def _anti_tombstones(df: DataFrame, tomb, *cols: str) -> DataFrame:
    """Filter tombstoned doc ids out of ``df`` on each id column in
    ``cols`` (records/keys: one column; edges: both endpoints).  The
    tombstone set is one row per deleted doc — broadcast anti-joins,
    never a shuffle of ``df``."""
    if tomb is None:
        return df
    for c in cols:
        df = df.join(
            F.broadcast(tomb.withColumnRenamed("doc_id", c)), c, "left_anti"
        )
    return df


def _data_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return sorted(os.listdir(path))


def _parquet_data_files(path: str) -> list[str]:
    """Actual data part files — the read-amplification number.
    `_data_files` (manifest/rollback bookkeeping) deliberately lists
    EVERYTHING the writer may create (_SUCCESS, .crc) so appends roll
    back byte-exactly; operator-facing file counts must not inflate
    with that bookkeeping noise (r5: the compaction-cadence test
    caught store_stats reporting 6 "files" for a 2-part table)."""
    return [f for f in _data_files(path) if f.startswith("part-")]


def _write_batch_manifest(store_dir: str, payload: dict) -> None:
    os.makedirs(store_dir, exist_ok=True)
    tmp = os.path.join(store_dir, BATCH_MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=2)
    os.replace(tmp, os.path.join(store_dir, BATCH_MANIFEST))


def _rollback_appends(
    store_dir: str, manifest: dict, tables: tuple[str, ...]
) -> None:
    """Delete every file a dead batch appended beyond the manifest's
    recorded pre-commit file sets (parquet appends only ever ADD
    uniquely-named part files) — shared by the linkage and dedup
    store recoveries."""
    import shutil

    pre = manifest.get("pre", {})
    for name in tables:
        path = os.path.join(store_dir, name)
        keep = set(pre.get(name, []))
        if not os.path.isdir(path):
            continue
        if not keep:
            shutil.rmtree(path)
            continue
        for fn in os.listdir(path):
            if fn not in keep:
                fp = os.path.join(path, fn)
                if os.path.isdir(fp):
                    shutil.rmtree(fp)
                else:
                    os.remove(fp)


def _atomic_overwrite(df: DataFrame, path: str) -> None:
    """Write-to-temp + atomic rename, the StageStore commit pattern
    (sources/io.py): a kill mid-write leaves the OLD table intact.  On
    a real deployment this is an Iceberg snapshot commit; the local
    parquet layout gets the same all-or-nothing property from the
    filesystem rename."""
    import shutil

    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def _safe_swap(df: DataFrame, path: str) -> None:
    """Crash-safe overwrite for PRIMARY (non-rebuildable) tables:
    write temp, rename live -> .compact_old, rename temp -> live,
    drop .compact_old.  Every crash window leaves either the old or
    the new COMPLETE table recoverable by `_recover_compaction`
    (unlike `_atomic_overwrite`, whose rmtree-then-replace window is
    tolerable only for derived tables a manifest rollback rebuilds)."""
    import shutil

    tmp = path + ".compact_tmp"
    old = path + ".compact_old"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old)


def _recover_compaction(store_dir: str) -> bool:
    """Finish or roll back a compaction swap that died mid-rename: if
    the live table is missing, promote the completed .compact_tmp
    (new) or fall back to .compact_old (previous); then clear
    leftovers.  Returns True if anything was repaired."""
    import shutil

    repaired = False
    for name in _STORE_APPEND_TABLES:
        path = os.path.join(store_dir, name)
        tmp, old = path + ".compact_tmp", path + ".compact_old"
        if not os.path.isdir(path):
            if os.path.isdir(tmp):
                os.replace(tmp, path)
                repaired = True
            elif os.path.isdir(old):
                os.replace(old, path)
                repaired = True
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
    return repaired


def _reject_sparsify(cfg) -> None:
    """``LinkageConfig.sparsify_top_k`` is BATCH-ONLY (ADVICE r4): the
    incremental store persists unscored edges, and CC here runs over
    the raw accumulated edge set — silently ignoring the knob would
    make the store's clusters diverge from a batch run under the same
    cfg, breaking the results-equal-the-full-batch-run contract.
    Supporting it incrementally would mean persisting per-edge scores
    and re-sparsifying the WHOLE edge set every batch (O(store), not
    O(batch)); until a scored edge store exists, refuse loudly."""
    k = getattr(cfg, "sparsify_top_k", 0)
    if k:
        raise ValueError(
            "sparsify_top_k is batch-only (LinkagePipeline.run): the "
            "incremental store keeps unscored edges, so top-k edge "
            "sparsification cannot be replayed incrementally. Run the "
            f"batch pipeline for sparsified clusters (got top_k={k})."
        )


def recover_store(spark, store_dir: str, cfg=None) -> bool:
    """Roll back a half-committed micro-batch (ADVICE r3: the commit
    spanned four separate writes, and a crash between the records
    append and the keys/edges appends left docs permanently
    unlinkable — present in records, so the idempotent replay anti-join
    skipped them, but absent from keys/edges).

    The batch commit now writes ``_batch_manifest.json`` (atomic
    rename) BEFORE touching the store, recording the exact file set of
    every append table.  If the last manifest is still ``in-progress``
    here, the previous run died mid-commit: delete every file the dead
    batch appended (parquet appends only ever ADD uniquely-named part
    files), then rebuild the two derived overwrite tables — census
    from the rolled-back keys, clusters from the rolled-back
    edges/records — so the store is byte-consistent with the last
    COMPLETE batch.  The replayed batch then re-ingests from scratch.
    Returns True if a rollback happened."""
    import shutil

    from ..operators.cc import connected_components
    from ..plans.linkage import LinkageConfig

    if cfg is not None:
        # guard up front, not only on the rollback path: a sparsify
        # cfg is wrong for this store whether or not a crash happened
        _reject_sparsify(cfg)
    compact_fixed = _recover_compaction(store_dir)
    mpath = os.path.join(store_dir, BATCH_MANIFEST)
    if not os.path.exists(mpath):
        return compact_fixed
    with open(mpath) as f:
        manifest = json.load(f)
    if manifest.get("status") != "in-progress":
        return compact_fixed

    _rollback_appends(store_dir, manifest, _STORE_APPEND_TABLES)

    cfg = cfg or LinkageConfig()
    records_path = os.path.join(store_dir, "records")
    keys_path = os.path.join(store_dir, "keys")
    edges_path = os.path.join(store_dir, "edges")
    census_path = os.path.join(store_dir, "census")
    clusters_path = os.path.join(store_dir, "clusters")
    # derived-table rebuilds are tombstone-aware: the rolled-back
    # tombstones table (pre-crash state) filters keys/records/edges
    # exactly as live readers do, so a rollback never resurrects
    # deleted docs into census or clusters
    tomb = _read_tombstones(spark, store_dir)
    if os.path.isdir(keys_path):
        census = (
            _anti_tombstones(
                spark.read.parquet(keys_path), tomb, "doc_id"
            )
            .groupBy("block_key")
            .agg(F.count("*").alias("block_size"))
        )
        _atomic_overwrite(census, census_path)
    else:
        shutil.rmtree(census_path, ignore_errors=True)
    if os.path.isdir(records_path):
        records = _anti_tombstones(
            spark.read.parquet(records_path), tomb, "doc_id"
        )
        if os.path.isdir(edges_path):
            edges = _anti_tombstones(
                spark.read.parquet(edges_path),
                tomb,
                "doc_id_1",
                "doc_id_2",
            )
        else:
            edges = spark.createDataFrame(
                [], "doc_id_1 string, doc_id_2 string"
            )
        clusters = connected_components(
            edges, vertices=records.select("doc_id"), method=cfg.cc_method
        )
        _atomic_overwrite(clusters, clusters_path)
    else:
        shutil.rmtree(clusters_path, ignore_errors=True)
    manifest["status"] = "rolled-back"
    _write_batch_manifest(store_dir, manifest)
    return True


def incremental_linkage_batch(
    spark,
    new_documents: DataFrame,
    store_dir: str,
    cfg=None,
) -> dict:
    """foreachBatch body for incremental linkage.

    Per-batch work is incremental END TO END — old-old pairs are never
    generated (round-2 review: the previous version re-ran
    generate_candidates over the FULL store per batch and semi-joined
    away the old-old pairs AFTER paying their key-explode / census /
    join / dedup cost):

      1. only the new documents are normalized (``<store>/records``
         holds prior batches; normalize once, append-only);
      2. the exploded block-key table persists at ``<store>/keys``
         (append-only) and the block census at ``<store>/census``
         (merged incrementally: stored sizes + this batch's counts —
         no rescan of old keys to re-count);
      3. candidate pairs = new-keys x stored-keys restricted to the
         blocks this batch TOUCHES (a broadcast semi-join of the new
         block keys prunes the store side), plus new x new — through
         the batch pipeline's tier stack (``blocking.tiered_pairs``,
         two-sided, over the merged census): plain equi-join under
         the cap, replicate-side salted join for hot blocks, drop +
         census beyond the ceiling.  Old-old pairs cannot
         appear: one join side is always new.  The windowed
         sorted-neighborhood tier re-ranks the union (O(n) rank work,
         pair volume bounded by n*(window-1)) and keeps new-touching
         pairs only;
      4. new match edges append into ``<store>/edges``; connected
         components re-runs over the accumulated edge set (labels are
         min-doc_id, so labels of untouched components are stable);
      5. ``<store>/clusters`` is overwritten (the only non-append
         store besides census — cluster labels are global);
      6. ``<store>/entity_ids`` appends a seq-versioned stable-id
         snapshot: CC labels relabel whenever a smaller-id member
         joins, so per-batch id CARRYOVER (max-overlap assignment,
         ``cc.stable_cluster_ids``) keeps entity ids persistent for
         downstream consumers; current mapping = rows at max(seq).

    The whole store mutation is ONE atomic batch commit: an
    ``in-progress`` manifest (recording the pre-batch file set of every
    append table) is renamed into place first, the appends and the
    temp-dir+rename overwrites follow, and the manifest flips to
    ``complete`` last.  A crash anywhere in between is rolled back by
    ``recover_store`` on the next run, which also rebuilds census and
    clusters from the rolled-back base tables — so a doc can never be
    present in ``records`` without its keys/edges (the silent-loss
    failure ADVICE r3 flagged).

    Tier-drift semantics (documented, deliberate): block tier
    decisions are made against the census AS OF EACH BATCH.  Edges
    generated while a block was under the drop ceiling persist in
    ``<store>/edges`` even if the block later grows past the ceiling,
    whereas a fresh batch run over the same accumulated corpus drops
    the whole block — on drop-tier corpora the incremental path keeps
    strictly MORE recall than the batch path (never less).  Pipelines
    that need to detect ceiling crossings read ``dropped_blocks`` /
    ``dropped_block_keys`` in the returned stats (the analogue of
    generate_candidates' dropped_census reporting) and can trigger a
    batch rebuild when it goes nonzero.

    Returns counters: docs in store, new docs, distinct stable
    ``entities``, pairs scored this batch, ``candidate_key_rows`` (key
    rows entering the pair join — the per-batch work bound: new keys +
    stored keys of touched blocks, ~flat as the store grows), total
    edges, clusters, and the drop-tier census (``dropped_blocks``,
    ``dropped_block_keys``).  The store-wide counters come from frames
    the batch already pinned (one aggregate over the labelled
    clusters), not from re-reading the store after the commit.

    At cluster scale the keys table would be written bucketed by
    block_key (sources/io.py write_bucketed pattern) so the
    per-batch equi-join co-locates without shuffling the store side;
    the parquet layout here keeps the same join shape minus that
    exchange.
    """
    from ..config import SELF_COMPARE_FIELDS
    from ..operators import rules
    from ..operators.blocking import (
        block_keys,
        sn_name_key,
        sorted_neighborhood_pairs,
        tiered_pairs,
    )
    from ..operators.cc import connected_components, stable_cluster_ids
    from ..operators.scoring import (
        attach_pair_sides,
        score_pairs_self,
        with_combined_score,
    )
    from ..plans.linkage import LinkageConfig, records_view

    cfg = cfg or LinkageConfig()
    _reject_sparsify(cfg)
    bc = cfg.blocking
    # roll back any half-committed batch before reading the store
    recover_store(spark, store_dir, cfg=cfg)
    records_path = os.path.join(store_dir, "records")
    keys_path = os.path.join(store_dir, "keys")
    census_path = os.path.join(store_dir, "census")
    edges_path = os.path.join(store_dir, "edges")
    clusters_path = os.path.join(store_dir, "clusters")
    ids_path = os.path.join(store_dir, "entity_ids")

    have_store = os.path.exists(records_path)
    tomb = _read_tombstones(spark, store_dir)
    new_docs = new_documents.dropDuplicates(["doc_id"])
    if have_store:
        old_records_raw = spark.read.parquet(records_path)
        old_records = _anti_tombstones(old_records_raw, tomb, "doc_id")
        # idempotent replay: a doc already in the store is not "new";
        # a TOMBSTONED id is not re-ingested either (deletion is
        # permanent by contract — see delete_documents).  Filtered
        # before normalizing, so the new records are pinned once.
        new_docs = _anti_tombstones(
            new_docs.join(
                old_records_raw.select("doc_id"), "doc_id", "left_anti"
            ),
            tomb,
            "doc_id",
        )
    new_records = records_view(new_docs, cfg).localCheckpoint(eager=True)
    all_records = (
        old_records.unionByName(new_records) if have_store else new_records
    )

    new_keys = block_keys(new_records, bc).localCheckpoint(eager=True)

    # census merge: stored sizes + this batch's counts (O(new keys) +
    # one tiny-table outer join; never re-counts the stored keys)
    new_counts = new_keys.groupBy("block_key").agg(
        F.count("*").alias("_n_new")
    )
    if have_store and os.path.exists(census_path):
        census = (
            spark.read.parquet(census_path)
            .join(new_counts, "block_key", "full_outer")
            .select(
                "block_key",
                (
                    F.coalesce(F.col("block_size"), F.lit(0))
                    + F.coalesce(F.col("_n_new"), F.lit(0))
                ).alias("block_size"),
            )
        )
    else:
        census = new_counts.select(
            "block_key", F.col("_n_new").alias("block_size")
        )
    # pinned: feeds the tier filters now and is persisted at the end
    # (overwriting the file it was derived from)
    census = census.localCheckpoint(eager=True)

    # store side of the pair join: only blocks TOUCHED by this batch
    # (broadcast semi-join on the new block keys — per-batch join
    # input stays proportional to the batch, not the store)
    touched = new_keys.select("block_key").distinct()
    if have_store and os.path.exists(keys_path):
        store_keys = _anti_tombstones(
            spark.read.parquet(keys_path), tomb, "doc_id"
        ).join(F.broadcast(touched), "block_key", "left_semi")
    else:
        # empty frame from new_keys' OWN schema: a hardcoded DDL string
        # diverges from later batches when doc ids are non-string
        store_keys = spark.createDataFrame([], new_keys.schema)
    all_keys = new_keys.unionByName(store_keys).localCheckpoint(eager=True)
    n_key_rows = all_keys.count()

    # new x (old ∪ new): old-old pairs cannot appear (left side is
    # always new); new-new pairs appear in both orientations and
    # collapse in the final dedup.  The new side is EXPLICITLY
    # broadcast: it sits behind a localCheckpoint, whose missing size
    # stats otherwise force a sort-merge join that shuffles the whole
    # store-side key table every micro-batch (measured: both sides
    # exchanged; AQE's runtime SMJ->BHJ conversion still materializes
    # the store-side shuffle map stage first).  Micro-batches are
    # driver-broadcastable by contract — a backfill-sized load should
    # run the batch pipeline instead.
    pairs, dropped = tiered_pairs(
        new_keys, bc, keys_right=all_keys, census=census, broadcast_left=True
    )
    if bc.sn_window > 0:
        name, has_name = sn_name_key(all_records, bc)
        sn = sorted_neighborhood_pairs(
            all_records.where(has_name),
            name,
            window=bc.sn_window,
            materialize=True,
        )
        new_ids = new_records.select("doc_id")
        sn = sn.join(
            new_ids.withColumnRenamed("doc_id", "doc_id_1"),
            "doc_id_1",
            "left_semi",
        ).unionByName(
            sn.join(
                new_ids.withColumnRenamed("doc_id", "doc_id_2"),
                "doc_id_2",
                "left_semi",
            )
        )
        pairs = pairs.unionByName(sn)
    pairs = (
        pairs.select(
            F.least("doc_id_1", "doc_id_2").alias("doc_id_1"),
            F.greatest("doc_id_1", "doc_id_2").alias("doc_id_2"),
        )
        .where(F.col("doc_id_1") != F.col("doc_id_2"))
        .dropDuplicates(["doc_id_1", "doc_id_2"])
    )

    wide = attach_pair_sides(pairs, all_records, SELF_COMPARE_FIELDS)
    # pinned: counted here, filtered into the match edges below — an
    # unpinned plan would run the whole scoring chain once per use
    scored = with_combined_score(
        score_pairs_self(wide, with_jw=cfg.with_jw), mode="self"
    ).localCheckpoint(eager=True)
    n_scored = scored.count()
    new_edges = rules.match(scored, "self").select("doc_id_1", "doc_id_2")

    if have_store and os.path.exists(edges_path):
        edges = _anti_tombstones(
            spark.read.parquet(edges_path), tomb, "doc_id_1", "doc_id_2"
        ).unionByName(new_edges)
    else:
        edges = new_edges
    n_edges = edges.count()

    # pinned: feeds the id carryover twice, the entity-id join and the
    # clusters overwrite
    clusters = connected_components(
        edges, vertices=all_records.select("doc_id"), method=cfg.cc_method
    ).localCheckpoint(eager=True)

    # persistent entity ids: CC labels are min-member doc_ids, so a
    # new member with a smaller id RELABELS its whole cluster —
    # downstream consumers keyed on entity id need carryover.  The
    # mapping is a seq-versioned APPEND table: current = rows at
    # max(seq), and the generic manifest rollback restores the exact
    # previous snapshot on a mid-commit crash (an overwrite table
    # could not be rebuilt — the mapping is history-dependent).  Mint
    # prefix e<seq>: is unique per batch, so a later mint can never
    # collide with a carried earlier mint.  At scale, compact old seqs
    # out on the same cadence as any other append-table maintenance.
    if have_store and os.path.exists(ids_path):
        stored_ids = spark.read.parquet(ids_path)
        cur_seq = stored_ids.agg(F.max("seq")).collect()[0][0] or 0
        prev_map = stored_ids.where(F.col("seq") == cur_seq).select(
            "doc_id", F.col("stable_id").alias("cluster_id")
        )
        mapping = stable_cluster_ids(
            prev_map, clusters, mint_prefix=f"e{cur_seq + 1}:"
        )
        labelled = clusters.join(
            mapping.select("cluster_id", "stable_id"), "cluster_id"
        )
    else:
        cur_seq = 0
        labelled = clusters.withColumn("stable_id", F.col("cluster_id"))
    # materialize before the commit: the append below writes into the
    # same path the prev mapping was read from
    labelled = labelled.localCheckpoint(eager=True)
    entity_ids = labelled.select(
        "doc_id", "stable_id", F.lit(cur_seq + 1).alias("seq")
    )
    # store-wide counters from the pinned labelling (one row per live
    # doc), not from a re-read of the store
    totals = labelled.agg(
        F.count("*").alias("docs"),
        F.countDistinct("cluster_id").alias("clusters"),
        F.countDistinct("stable_id").alias("entities"),
    ).first()

    n_new = new_records.count()
    # the drop tier holds blocks past max_block_size * salt_drop_factor
    # keys each, so it is a handful of rows: collect it whole
    dropped_keys = [r[0] for r in dropped.select("block_key").collect()]
    if n_new > 0 or not have_store:
        # atomic batch commit: manifest(in-progress, pre-batch file
        # sets) -> clusters overwrite -> appends -> census overwrite
        # -> manifest(complete).  recover_store rolls back anything
        # short of complete.
        _write_batch_manifest(
            store_dir,
            {
                "status": "in-progress",
                "new_docs": n_new,
                "pre": {
                    t: _data_files(os.path.join(store_dir, t))
                    for t in _STORE_APPEND_TABLES
                },
            },
        )
        _atomic_overwrite(clusters, clusters_path)
        new_records.write.mode("append").parquet(records_path)
        new_keys.write.mode("append").parquet(keys_path)
        new_edges.write.mode("append").parquet(edges_path)
        entity_ids.write.mode("append").parquet(ids_path)
        _atomic_overwrite(census, census_path)
        _write_batch_manifest(
            store_dir, {"status": "complete", "new_docs": n_new}
        )
    return {
        "docs": totals["docs"],
        "new_docs": n_new,
        "pairs_scored": n_scored,
        "candidate_key_rows": n_key_rows,
        "edges": n_edges,
        "clusters": totals["clusters"],
        "entities": totals["entities"],
        "dropped_blocks": len(dropped_keys),
        # bounded sample of the dropped census (the count above is the
        # signal; the keys are for triage)
        "dropped_block_keys": dropped_keys[:100],
    }


def delete_documents(
    spark,
    store_dir: str,
    doc_ids,
    cfg=None,
) -> dict:
    """Retract documents from the incremental store (right-to-erasure
    / bad-ingest rollback) — the Iceberg delete-file model: deletion
    APPENDS to a ``tombstones(doc_id)`` table under the same
    manifest-gated atomic commit as ingestion, every reader
    (``incremental_linkage_batch``, ``recover_store`` rebuilds, the
    stats counters) anti-joins it, and ``compact_store`` physically
    purges tombstoned rows on the normal maintenance cadence.  No
    store table is rewritten at delete time — the commit is O(deleted
    docs + derived-table refresh), not O(store).

    What one call does:
      1. tombstones the ids that are actually in the store and not
         already tombstoned (idempotent — re-deleting is a no-op);
      2. decrements the block census by the deleted docs' key counts
         (one keys semi-join against the broadcast deletion set —
         never a full recount);
      3. recomputes ``clusters`` over the surviving edge set (every
         edge touching a deleted doc dies — a cluster welded through
         a deleted record SPLITS, exactly as a fresh batch run over
         the surviving corpus would produce);
      4. appends a new ``entity_ids`` snapshot (seq+1) with stable-id
         carryover for surviving clusters.

    Deletion is PERMANENT by contract: a tombstoned doc_id arriving in
    a later micro-batch is ignored (the replay anti-join treats it as
    seen).  Re-admitting an id would require removing its tombstone
    row, which breaks append-only recovery — ingest reborn entities
    under a new doc_id instead.

    Crash-safety: the manifest records the pre-commit file set of
    every append table (tombstones included); a crash mid-commit rolls
    back the tombstone/entity_ids appends and rebuilds census/clusters
    from the rolled-back state — ``recover_store``'s rebuilds are
    tombstone-aware, so a PREVIOUS successful deletion survives a
    LATER crashed batch's rollback.

    ``doc_ids``: a list of ids or a DataFrame with a ``doc_id``
    column.  Returns counters (requested, newly tombstoned, surviving
    docs/edges/clusters/entities).
    """
    from ..operators.cc import connected_components, stable_cluster_ids
    from ..plans.linkage import LinkageConfig

    cfg = cfg or LinkageConfig()
    _reject_sparsify(cfg)
    recover_store(spark, store_dir, cfg=cfg)
    records_path = os.path.join(store_dir, "records")
    keys_path = os.path.join(store_dir, "keys")
    census_path = os.path.join(store_dir, "census")
    edges_path = os.path.join(store_dir, "edges")
    clusters_path = os.path.join(store_dir, "clusters")
    ids_path = os.path.join(store_dir, "entity_ids")
    tomb_path = os.path.join(store_dir, "tombstones")
    if not os.path.isdir(records_path):
        raise ValueError(f"no incremental store at {store_dir}")

    records_raw = spark.read.parquet(records_path)
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select("doc_id").distinct()
    else:
        id_type = records_raw.schema["doc_id"].dataType.simpleString()
        ids = spark.createDataFrame(
            [(d,) for d in doc_ids], f"doc_id {id_type}"
        ).distinct()
    n_requested = ids.count()

    prev_tomb = _read_tombstones(spark, store_dir)
    # only ids that exist in the store and are not already tombstoned
    new_tomb = ids.join(
        records_raw.select("doc_id").distinct(), "doc_id", "left_semi"
    )
    if prev_tomb is not None:
        new_tomb = new_tomb.join(prev_tomb, "doc_id", "left_anti")
    new_tomb = new_tomb.localCheckpoint(eager=True)
    n_new = new_tomb.count()
    all_tomb = (
        new_tomb if prev_tomb is None
        else prev_tomb.unionByName(new_tomb).distinct()
    )

    if n_new == 0:
        surviving = _anti_tombstones(records_raw, prev_tomb, "doc_id")
        return {
            "requested": n_requested,
            "deleted": 0,
            "docs": surviving.count(),
        }

    # census decrement: the deleted docs' key rows, counted per block
    # (semi-join against the broadcast deletion set — O(deleted keys))
    if os.path.isdir(keys_path):
        deleted_counts = (
            spark.read.parquet(keys_path)
            .join(F.broadcast(new_tomb), "doc_id", "left_semi")
            .groupBy("block_key")
            .agg(F.count("*").alias("_n_del"))
        )
        if os.path.isdir(census_path):
            census = (
                spark.read.parquet(census_path)
                .join(deleted_counts, "block_key", "left")
                .select(
                    "block_key",
                    (
                        F.col("block_size")
                        - F.coalesce(F.col("_n_del"), F.lit(0))
                    ).alias("block_size"),
                )
                .where(F.col("block_size") > 0)
            )
        else:
            census = (
                _anti_tombstones(
                    spark.read.parquet(keys_path), all_tomb, "doc_id"
                )
                .groupBy("block_key")
                .agg(F.count("*").alias("block_size"))
            )
        census = census.localCheckpoint(eager=True)
    else:
        census = None

    surviving = _anti_tombstones(
        records_raw, all_tomb, "doc_id"
    ).localCheckpoint(eager=True)
    if os.path.isdir(edges_path):
        edges_kept = _anti_tombstones(
            spark.read.parquet(edges_path), all_tomb, "doc_id_1", "doc_id_2"
        )
    else:
        edges_kept = spark.createDataFrame(
            [], "doc_id_1 string, doc_id_2 string"
        )
    clusters = connected_components(
        edges_kept, vertices=surviving.select("doc_id"),
        method=cfg.cc_method,
    )

    # stable-id carryover, same seq-versioned append contract as the
    # batch path (deleted docs simply vanish from the new snapshot)
    if os.path.isdir(ids_path):
        stored_ids = spark.read.parquet(ids_path)
        cur_seq = stored_ids.agg(F.max("seq")).collect()[0][0] or 0
        prev_map = (
            stored_ids.where(F.col("seq") == cur_seq)
            .join(F.broadcast(all_tomb), "doc_id", "left_anti")
            .select("doc_id", F.col("stable_id").alias("cluster_id"))
        )
        mapping = stable_cluster_ids(
            prev_map, clusters, mint_prefix=f"e{cur_seq + 1}:"
        )
        entity_ids = clusters.join(
            mapping.select("cluster_id", "stable_id"), "cluster_id"
        ).select("doc_id", "stable_id", F.lit(cur_seq + 1).alias("seq"))
        entity_ids = entity_ids.localCheckpoint(eager=True)
    else:
        entity_ids = None

    _write_batch_manifest(
        store_dir,
        {
            "status": "in-progress",
            "deleted_docs": n_new,
            "pre": {
                t: _data_files(os.path.join(store_dir, t))
                for t in _STORE_APPEND_TABLES
            },
        },
    )
    _atomic_overwrite(clusters, clusters_path)
    new_tomb.write.mode("append").parquet(tomb_path)
    if entity_ids is not None:
        entity_ids.write.mode("append").parquet(ids_path)
    if census is not None:
        _atomic_overwrite(census, census_path)
    _write_batch_manifest(
        store_dir, {"status": "complete", "deleted_docs": n_new}
    )
    return {
        "requested": n_requested,
        "deleted": n_new,
        "docs": surviving.count(),
        "edges": edges_kept.count(),
        "clusters": spark.read.parquet(clusters_path)
        .select("cluster_id")
        .distinct()
        .count(),
        "entities": (
            entity_ids.select("stable_id").distinct().count()
            if entity_ids is not None
            else None
        ),
    }


def stream_documents_to_clusters(
    spark,
    source_path: str,
    store_dir: str,
    checkpoint_path: str,
    cfg=None,
):
    """readStream(parquet dir) -> foreachBatch(incremental linkage).
    Returns the StreamingQuery (caller awaits/stops).

    Kernel-registration caveat: foreachBatch hands a DataFrame bound
    to a CLONED session whose state (incl. the Java UDF registry) is
    copied at clone time — if the compiled similarity kernels
    (rlds_ro/rlds_jw) were never registered on the parent before the
    stream started, the clone can't resolve them and the batch dies
    with UNRESOLVED_ROUTINE.  Register on the parent up front AND on
    each batch's own session (idempotent, cached per session object).
    """
    from ..functions.similarity import _jvm_kernels_available
    from ..operators.spans import DOCUMENTS_SCHEMA

    _jvm_kernels_available(spark)
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_path)
    )

    def _batch(df: DataFrame, epoch_id: int) -> None:
        _jvm_kernels_available(df.sparkSession)
        incremental_linkage_batch(df.sparkSession, df, store_dir, cfg=cfg)

    return (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def compact_store(
    spark, store_dir: str, files_per_table: int = 4
) -> dict:
    """Store maintenance: every micro-batch appends small part files
    to records/keys/edges and a full stable-id snapshot to entity_ids,
    so scan cost (and the per-batch touched-blocks join) degrades with
    batch COUNT rather than data size.  Compaction rewrites each
    append table into ``files_per_table`` files and drops all but the
    CURRENT entity_ids seq — content-identical for every reader
    (current mapping = max(seq) rows, which is all that survives).

    Crash-safe: each table is materialized (localCheckpoint) BEFORE
    its swap, the swap itself never has a window where neither the
    old nor the new COMPLETE table exists (`_safe_swap`: temp-write,
    live -> .compact_old, temp -> live), and `recover_store` — which
    runs first here and at the head of every batch — finishes or
    rolls back an interrupted swap via `_recover_compaction`.  Tables
    are independent (compaction changes layout, never content), so a
    half-compacted store is still fully consistent.

    On a real deployment this is Iceberg ``rewrite_data_files`` +
    ``expire_snapshots``; the local parquet layout gets the same
    effect from the StageStore temp+rename commit.  Run it on the
    same cadence as any other table maintenance (every N batches).

    Returns per-table ``{files_before, files_after, rows}``.
    """
    recover_store(spark, store_dir)
    stats: dict = {}
    # physical purge of tombstoned rows happens HERE (the Iceberg
    # rewrite_data_files analogue): readers already anti-join the
    # tombstone set, so the rewrite is content-identical for every
    # consumer — it just makes the anti-join a no-op afterwards.  The
    # tombstones table itself is retained (tiny: one id per deleted
    # doc) so the permanent-deletion contract survives compaction.
    tomb = _read_tombstones(spark, store_dir)
    for name in _STORE_APPEND_TABLES:
        path = os.path.join(store_dir, name)
        if not os.path.isdir(path):
            continue
        before = len(_parquet_data_files(path))
        df = spark.read.parquet(path)
        if name == "entity_ids":
            cur = df.agg(F.max("seq")).collect()[0][0]
            if cur is not None:
                df = df.where(F.col("seq") == cur)
        elif name in ("records", "keys"):
            df = _anti_tombstones(df, tomb, "doc_id")
        elif name == "edges":
            df = _anti_tombstones(df, tomb, "doc_id_1", "doc_id_2")
        df = df.repartition(files_per_table).localCheckpoint(eager=True)
        n = df.count()
        _safe_swap(df, path)
        stats[name] = {
            "files_before": before,
            "files_after": len(_parquet_data_files(path)),
            "rows": n,
        }
    return stats


def store_stats(spark, store_dir: str) -> dict:
    """Operational snapshot of an incremental store: per-table row and
    file counts, live vs tombstoned docs, edge count, entity-id
    snapshot depth, and the last commit manifest's status — the
    at-a-glance view an operator checks before/after a batch,
    deletion, or compaction (file counts growing much faster than rows
    = compaction overdue; a non-'complete' manifest = the next run
    will roll back).

    Read-only: no recovery, no mutation — safe to call concurrently
    with nothing else guaranteed."""
    out: dict = {"store_dir": store_dir, "tables": {}}
    frames: dict = {}
    for name in _STORE_APPEND_TABLES + ("census", "clusters"):
        path = os.path.join(store_dir, name)
        if not os.path.isdir(path):
            continue
        if not _data_files(path):
            continue
        df = spark.read.parquet(path)
        frames[name] = df
        out["tables"][name] = {
            "rows": df.count(),
            "files": len(_parquet_data_files(path)),
        }
    tomb = _read_tombstones(spark, store_dir)
    n_tomb = tomb.count() if tomb is not None else 0
    out["tombstoned_docs"] = n_tomb
    if "records" in frames:
        out["live_docs"] = _anti_tombstones(
            frames["records"], tomb, "doc_id"
        ).count()
    if "entity_ids" in frames:
        ids = frames["entity_ids"]
        out["entity_id_seqs"] = ids.select("seq").distinct().count()
        cur = ids.agg(F.max("seq")).collect()[0][0]
        out["entities"] = (
            ids.where(F.col("seq") == cur)
            .select("stable_id")
            .distinct()
            .count()
        )
    mpath = os.path.join(store_dir, BATCH_MANIFEST)
    if os.path.exists(mpath):
        with open(mpath) as f:
            out["last_commit_status"] = json.load(f).get("status")
    return out


_DEDUP_STORE_TABLES = ("bands", "shingles", "flags")


def _recover_dedup_store(store_dir: str) -> bool:
    """Roll back a half-committed dedup-store batch (same manifest
    pattern as the linkage store; all tables are append-only, so
    rollback = delete files the dead batch appended)."""
    mpath = os.path.join(store_dir, BATCH_MANIFEST)
    if not os.path.exists(mpath):
        return False
    with open(mpath) as f:
        manifest = json.load(f)
    if manifest.get("status") != "in-progress":
        return False
    _rollback_appends(store_dir, manifest, _DEDUP_STORE_TABLES)
    manifest["status"] = "rolled-back"
    _write_batch_manifest(store_dir, manifest)
    return True


def incremental_dedup_batch(
    spark,
    new_docs: DataFrame,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    band_size: int = 3,
    shingle_size: int = 3,
    threshold: float = 0.7,
    hash_fn: str = "md5",
    max_bucket_size: int = 1000,
    salt_buckets: int = 8,
    drop_factor: int = 16,
) -> dict:
    """Ingest-time near-duplicate guard over a GROWING corpus — the
    dedup sibling of ``incremental_linkage_batch``, with the SAME
    decision standard as the batch ``minhash_near_duplicates``: an LSH
    band collision is only a CANDIDATE; the flag fires on exact
    shingle-set Jaccard >= ``threshold`` (raw band collisions
    false-positive at J^band_size per band — unverified flagging would
    permanently drop non-duplicates).

    Per batch: new docs' band keys probe the persisted band store
    pruned to TOUCHED keys; verified store collisions flag
    ``duplicate_of`` the MIN-ID kept holder (min over (doc_id,
    jaccard) structs — only kept docs' bands and shingle sets live in
    the store, so store flags never chain); surviving new docs run
    the batch operator's own tiered band self-join (census/cap/salt
    with dropped-census reporting) plus Jaccard verify, and
    within-batch components resolve through CONNECTED COMPONENTS to
    the min-id representative — chain-free by construction on both
    paths.  The flag row's ``jaccard`` is the verified similarity to
    ``duplicate_of`` itself whenever a direct verified edge exists
    (always, for store flags; the normal case within-batch), falling
    back to the doc's best verified edge into the same component for
    purely transitive within-batch flags — either way it is a real
    >= threshold measurement, never a band-collision estimate
    (ADVICE r4 coupling fix).  Oversized PROBE keys (a stored
    band bucket beyond the drop ceiling) are dropped and REPORTED,
    mirroring the batch family's census contract.

    The store pins its sketch parameters in ``_dedup_params.json`` on
    creation and refuses a batch with different parameters — band keys
    from different hash families/shapes silently probe nothing, which
    would disable dedup without an error.

    Append-only tables (``bands``, ``shingles``, ``flags``) behind the
    manifest-gated atomic commit; crashed batches roll back and replay
    idempotently (docs already in the store — kept or flagged — are
    skipped).  Batch-local counters only; store-wide numbers belong to
    a store_stats-style snapshot, not the per-batch hot path.
    """
    from ..operators.cc import connected_components
    from ..operators.dedup import (
        _shingled,
        capped_bucket_pairs,
        jaccard_col,
        minhash_signatures,
    )

    _recover_dedup_store(store_dir)
    os.makedirs(store_dir, exist_ok=True)
    params = {
        "num_hashes": num_hashes,
        "band_size": band_size,
        "shingle_size": shingle_size,
        "hash_fn": hash_fn,
        "threshold": threshold,
    }
    ppath = os.path.join(store_dir, "_dedup_params.json")
    if os.path.exists(ppath):
        with open(ppath) as f:
            stored_params = json.load(f)
        if stored_params != params:
            raise ValueError(
                "dedup store was built with different sketch parameters "
                f"({stored_params} vs {params}) — band keys would not "
                "collide across families; use a new store_dir or the "
                "original parameters"
            )
    else:
        tmp = ppath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(params, f)
        os.replace(tmp, ppath)

    bands_path = os.path.join(store_dir, "bands")
    sh_path = os.path.join(store_dir, "shingles")
    flags_path = os.path.join(store_dir, "flags")

    new = new_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).dropDuplicates(["doc_id"])
    have_bands = os.path.isdir(bands_path) and bool(_data_files(bands_path))
    have_flags = os.path.isdir(flags_path) and bool(_data_files(flags_path))
    seen_ids = None
    if have_bands:
        seen_ids = spark.read.parquet(bands_path).select("doc_id").distinct()
    if have_flags:
        flagged_ids = (
            spark.read.parquet(flags_path).select("doc_id").distinct()
        )
        seen_ids = (
            flagged_ids
            if seen_ids is None
            else seen_ids.unionByName(flagged_ids).distinct()
        )
    if seen_ids is not None:
        new = new.join(seen_ids, "doc_id", "left_anti")
    new = new.localCheckpoint(eager=True)
    n_new = new.count()

    bands_new = minhash_signatures(
        new,
        text_col="text",
        id_col="doc_id",
        num_hashes=num_hashes,
        band_size=band_size,
        shingle_size=shingle_size,
        hash_fn=hash_fn,
    ).localCheckpoint(eager=True)
    toks_new = _shingled(
        new, "text", "doc_id", shingle_size, out_col="toks"
    ).localCheckpoint(eager=True)

    n_probe = 0
    n_probe_dropped = 0
    if have_bands:
        touched = bands_new.select("band_key").distinct()
        probe_raw = spark.read.parquet(bands_path).join(
            F.broadcast(touched), "band_key", "left_semi"
        )
        # cap oversized probe buckets (a stored band bucket past the
        # drop ceiling would make the probe quadratic in one key) —
        # dropped keys are counted, mirroring the census contract
        probe_census = probe_raw.groupBy("band_key").agg(
            F.count("*").alias("_n")
        )
        ceiling = max_bucket_size * drop_factor
        over = probe_census.where(F.col("_n") > ceiling)
        n_probe_dropped = over.count()
        store_side = probe_raw.join(
            F.broadcast(over.select("band_key")), "band_key", "left_anti"
        ).localCheckpoint(eager=True)
        n_probe = store_side.count()
    else:
        store_side = spark.createDataFrame([], bands_new.schema)

    # vs-store: candidates from band collisions, VERIFIED by exact
    # Jaccard against the stored (kept docs') shingle sets
    cand_store = (
        bands_new.join(
            store_side.select("band_key", F.col("doc_id").alias("_kept")),
            "band_key",
        )
        .select("doc_id", "_kept")
        .dropDuplicates(["doc_id", "_kept"])
    )
    if have_bands and os.path.isdir(sh_path):
        stored_toks = spark.read.parquet(sh_path)
        verified_store = (
            cand_store.join(toks_new, "doc_id")
            .join(
                stored_toks.select(
                    F.col("doc_id").alias("_kept"),
                    F.col("toks").alias("_ktoks"),
                ),
                "_kept",
            )
            .withColumn(
                "_j", F.round(jaccard_col(F.col("toks"), F.col("_ktoks")), 6)
            )
            .where(F.col("_j") >= threshold)
        )
        vs_store = (
            verified_store.groupBy("doc_id")
            .agg(F.min(F.struct("_kept", "_j")).alias("_m"))
            .select(
                "doc_id",
                F.col("_m._kept").alias("duplicate_of"),
                F.col("_m._j").alias("jaccard"),
                F.lit("store").alias("via"),
            )
        )
    else:
        vs_store = spark.createDataFrame(
            [], "doc_id string, duplicate_of string, jaccard double, "
            "via string"
        )

    survivors = bands_new.join(
        vs_store.select("doc_id"), "doc_id", "left_anti"
    )
    # within-batch: the batch operator's own tiered band self-join +
    # Jaccard verify + CC to the min-id representative (chain-free)
    keys_wb = survivors.select(
        "doc_id",
        F.concat_ws(
            ":", F.col("band_idx").cast("string"), "band_key"
        ).alias("block_key"),
    )
    cand_wb, dropped_wb = capped_bucket_pairs(
        keys_wb, max_bucket_size, salt_buckets, drop_factor
    )
    verified_wb = (
        cand_wb.join(
            toks_new.select(
                F.col("doc_id").alias("doc_id_1"),
                F.col("toks").alias("toks_1"),
            ),
            "doc_id_1",
        )
        .join(
            toks_new.select(
                F.col("doc_id").alias("doc_id_2"),
                F.col("toks").alias("toks_2"),
            ),
            "doc_id_2",
        )
        .withColumn(
            "_j", F.round(jaccard_col(F.col("toks_1"), F.col("toks_2")), 6)
        )
        .where(F.col("_j") >= threshold)
        .select("doc_id_1", "doc_id_2", "_j")
        .localCheckpoint(eager=True)
    )
    comps = connected_components(
        verified_wb.select("doc_id_1", "doc_id_2")
    )
    # jaccard pairs with duplicate_of: prefer the direct verified
    # edge to the representative; a purely transitive member (no
    # direct edge to the rep) carries its best verified edge into the
    # component instead — both are real >= threshold measurements
    ev = verified_wb.select(
        F.col("doc_id_1").alias("doc_id"),
        F.col("doc_id_2").alias("other"),
        "_j",
    ).unionByName(
        verified_wb.select(
            F.col("doc_id_2").alias("doc_id"),
            F.col("doc_id_1").alias("other"),
            "_j",
        )
    )
    best_ev = ev.groupBy("doc_id").agg(F.max("_j").alias("_best_j"))
    direct_ev = ev.groupBy("doc_id", "other").agg(
        F.max("_j").alias("_direct_j")
    )
    within = (
        comps.where(F.col("doc_id") != F.col("cluster_id"))
        .join(
            direct_ev.withColumnRenamed("other", "cluster_id"),
            ["doc_id", "cluster_id"],
            "left",
        )
        .join(best_ev, "doc_id", "left")
        .select(
            "doc_id",
            F.col("cluster_id").alias("duplicate_of"),
            F.coalesce("_direct_j", "_best_j").alias("jaccard"),
            F.lit("batch").alias("via"),
        )
    )
    flags_new = vs_store.unionByName(within).localCheckpoint(eager=True)
    by_via = {
        r["via"]: r["n"]
        for r in flags_new.groupBy("via").agg(F.count("*").alias("n")).collect()
    }
    n_vs_store = by_via.get("store", 0)
    n_within = by_via.get("batch", 0)
    kept_bands = bands_new.join(
        flags_new.select("doc_id"), "doc_id", "left_anti"
    ).localCheckpoint(eager=True)
    kept_toks = toks_new.join(
        flags_new.select("doc_id"), "doc_id", "left_anti"
    )

    if n_new > 0:
        _write_batch_manifest(
            store_dir,
            {
                "status": "in-progress",
                "new_docs": n_new,
                "pre": {
                    t: _data_files(os.path.join(store_dir, t))
                    for t in _DEDUP_STORE_TABLES
                },
            },
        )
        kept_bands.write.mode("append").parquet(bands_path)
        kept_toks.write.mode("append").parquet(sh_path)
        if n_vs_store + n_within > 0:
            flags_new.write.mode("append").parquet(flags_path)
        _write_batch_manifest(
            store_dir, {"status": "complete", "new_docs": n_new}
        )
    return {
        "new_docs": n_new,
        "flagged_vs_store": n_vs_store,
        "flagged_within_batch": n_within,
        "kept": n_new - n_vs_store - n_within,
        "probe_band_rows": n_probe,
        "probe_keys_dropped": n_probe_dropped,
        "batch_buckets_dropped": dropped_wb.count(),
    }

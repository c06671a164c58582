"""End-to-end linkage plans (SURVEY.md §3 Spark lifecycle equivalents).

``LinkagePipeline`` chains the operators:

    documents --extract+normalize--> records        (narrow, no shuffle)
            --block_keys+cap--> keys                (narrow + census agg)
            --equi-join--> candidate pairs          (the one big shuffle)
            --attach sides + score--> pair scores   (Arrow UDF batches)
            --combined score + rules--> matches     (codegen arithmetic)
            --connected components--> clusters      (iterative joins)

Every stage is materialized through ``StageStore`` (Parquet + a
manifest whose row count is observed on the data write; per-partition
metrics are derived from the committed data when asked), which is what
makes a killed run resume without recomputing finished stages (north
rule).  ``checkpoints=False``
runs the same lazy plan end-to-end (benchmark mode).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import SELF_COMPARE_FIELDS, SPAN_FIELD_KINDS
from ..operators import rules
from ..operators.blocking import BlockingConfig, generate_candidates
from ..operators.cc import connected_components
from ..operators.scoring import (
    attach_pair_sides,
    score_pairs_self,
    with_combined_score,
)
from ..operators.spans import extract_fields, normalize_fields
from ..session import built_once
from ..sources.io import StageStore, input_fingerprint


@dataclass
class LinkageConfig:
    blocking: BlockingConfig = field(default_factory=BlockingConfig)
    cc_method: str = "auto"
    with_jw: bool = True
    # with no StageStore, pin the two reuse points (records feeds the
    # pair join twice + CC vertices; matches feeds both the caller and
    # the CC edge set) so downstream actions don't recompute the whole
    # scoring chain.  localCheckpoint = in-memory/disk block store on
    # the executors — the single-session analogue of the stage write.
    materialize: bool = True
    # family coalesce for self mode: values arriving in variant kinds
    # (phone2, address3, company_name...) fall back onto the canonical
    # field before same-field comparison.
    family_coalesce: bool = True
    # Pair rows are ~40 bytes but cost ~100us of similarity kernels
    # each, so byte-based partition sizing (AQE advisory size, shuffle
    # defaults) under-splits the scoring stage: e.g. 45 tasks on 32
    # cores = 2 waves with the second 40% occupied (measured 70% CPU).
    # An explicit round-robin repartition to cores * this factor gives
    # full waves; REPARTITION_BY_NUM shuffles are exempt from AQE
    # coalescing, so the width sticks.  0 = off.
    score_partitions_per_core: int = 8
    # mutual top-k edge sparsification before transitive closure
    # (cc.topk_edge_sparsify): bounds per-node degree so one
    # promiscuous record cannot weld thousands of entities into a
    # hairball cluster.  0 = off (default: CC is recall-maximal and
    # the fixture has no hub pathology).  Pick k >= max expected
    # true-cluster size - 1 (mutual top-k is lossless on cliques of
    # <= k+1 members); smaller k deliberately trades many-copy
    # entities' recall for the degree bound.  BATCH-ONLY: the
    # incremental store keeps unscored edges, so
    # streaming.incremental raises on a nonzero value rather than
    # silently diverging from this pipeline's clusters (ADVICE r4).
    sparsify_top_k: int = 0
    # fold Latin diacritics to ASCII BEFORE the normalizer chains
    # (normalizers strip non-[a-z0-9], so an unfolded 'müller'
    # collapses to 'mller' and misses both the exact-name rule and the
    # right phonetic block).  Default off: the reference corpus is
    # unaccented and the fold costs one extra projection pass.
    fold_accents: bool = False
    # keep non-Latin scripts through the name normalizer (r5, VERDICT
    # item 6): the reference-faithful [^a-z0-9 ] strip deletes CJK /
    # Cyrillic / Greek names entirely, so such records lose all name
    # blocking and scoring signal — AND two all-CJK names both
    # normalize to '' where the similarity convention scores
    # sim('','') = 1.0, firing the exact-name rule on unrelated
    # records.  Turn this on (usually with
    # blocking.use_qgram_name, since phonetic keys are Latin-only)
    # for multilingual corpora; default off for reference parity.
    unicode_names: bool = False


_FAMILIES = {
    "name": ("name", "company_name", "name2"),
    "phone": ("phone", "phone2", "phone3"),
    "address": ("address", "address2", "address3", "address4"),
    "city": ("city", "city2"),
    "state": ("state", "state2"),
    "zip": ("zip", "zip2"),
    "country": ("country", "country2"),
}


def normalized_fields(documents: DataFrame, cfg: LinkageConfig) -> DataFrame:
    """documents(doc_id, spans) -> doc_id, spans, source and one
    normalized column per span kind: extract, then the optional
    accent fold, then the normalizer chains.  Every pipeline's records
    go through this one prefix, so ``fold_accents`` and
    ``unicode_names`` hold for self, cross and incremental linkage
    alike."""
    wide = extract_fields(documents)
    if cfg.fold_accents:
        from ..functions.normalizers import fold_accents as _fold

        wide = wide.withColumns(
            built_once(
                ("fold_accents", SPAN_FIELD_KINDS),
                lambda: {k: _fold(F.col(k)) for k in SPAN_FIELD_KINDS},
            )
        )
    return normalize_fields(wide, unicode_names=cfg.unicode_names)


def records_view(documents: DataFrame, cfg: LinkageConfig | None = None) -> DataFrame:
    """documents(doc_id, spans) -> normalized canonical record columns.
    One narrow projection chain end-to-end (scan -> project)."""
    cfg = cfg or LinkageConfig()
    wide = normalized_fields(documents, cfg)

    def build():
        # extract_fields emits exactly doc_id, spans, source and one
        # column per SPAN_FIELD_KINDS entry
        cols = [F.col("doc_id"), F.col("source"), F.col("spans")]
        for fam in SELF_COMPARE_FIELDS:
            members = _FAMILIES.get(fam, (fam,))
            if cfg.family_coalesce and len(members) > 1:
                expr = F.coalesce(
                    *[F.col(m) for m in members if m in SPAN_FIELD_KINDS]
                )
            else:
                expr = F.col(fam)
            # normalizers map '' and null alike to missing-equivalent;
            # keep '' distinct (reference keeps empty strings
            # post-normalization)
            cols.append(expr.alias(fam))
        return cols

    return wide.select(
        *built_once(("records_view", cfg.family_coalesce), build)
    )


@dataclass
class LinkageResult:
    records: DataFrame
    pairs: DataFrame
    scores: DataFrame
    matches: DataFrame
    clusters: DataFrame
    stage_info: dict


class LinkagePipeline:
    """Self-dedup linkage (the flagship flow; reference entry point 2+3
    for LDU x LDU, SURVEY.md §3)."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: LinkageConfig | None = None,
        store: StageStore | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or LinkageConfig()
        self.store = store

    def run(self, documents: DataFrame) -> LinkageResult:
        cfg = self.cfg
        info: dict = {}

        # ONE fingerprint job per run (it is a full scan+agg of the
        # input — per-stage recomputation would cost 4 extra full
        # scans at 100TB); every stage resumes against this value.
        fp = (
            input_fingerprint(documents, ["doc_id"])
            if self.store is not None
            else ""
        )
        # A fully-checkpointed downstream means the eager plan-build
        # work (key-table pin, census, dropped-blocks count) is pure
        # waste — a resumed run must not pay the compute it is
        # resuming past.
        resuming_pairs = self.store is not None and self.store.is_complete(
            "pairs", fp
        )
        # The normalize stage is narrow, so its parallelism is the
        # INPUT's partition count; a source read as a handful of
        # parquet splits (or a checkpointed union) would leave most
        # cores idle through the regex-heavy normalizers.  One cheap
        # round-robin shuffle of the raw docs unlocks the full width;
        # real cluster inputs arrive with thousands of splits and skip
        # this.
        min_width = self.spark.sparkContext.defaultParallelism
        if documents.rdd.getNumPartitions() < min_width:
            documents = documents.repartition(2 * min_width)
        records_full = records_view(documents, cfg)
        records = self._stage("records", records_full, info, fp)
        if self.store is None and cfg.materialize:
            # The in-session pin stores only the linkage columns: the
            # spans payload is ~80% of the records bytes and no
            # internal consumer (blocking keys, pair sides, CC
            # vertices) reads it.  The store path persists the full
            # records including spans — resume and presentation joins
            # read that table.  localCheckpoint materializes ALL
            # columns (no pruning across an RDD boundary), so the drop
            # must happen before the pin, not after.
            records = records.drop("spans").localCheckpoint(eager=False)

        # The pair dedup and the scoring-width repartition share ONE
        # shuffle: generate_candidates hash-partitions the raw pair
        # union by (doc_id_1, doc_id_2) to the scoring width and
        # dedups within partitions (HashPartitioning on the dedup keys
        # satisfies the aggregate's distribution, so no second
        # exchange), instead of a 192-partition dedup shuffle followed
        # by a full round-robin reshuffle of the deduped pairs.
        pairs = self._pairs_stage(records, None, resuming_pairs, info, fp)

        wide = attach_pair_sides(pairs, records, SELF_COMPARE_FIELDS)
        scored = score_pairs_self(wide, with_jw=cfg.with_jw)
        scored = with_combined_score(scored, mode="self")
        scored = self._stage("scores", scored, info, fp)

        matches = rules.match(scored, mode="self")
        matches = self._stage("matches", matches, info, fp)
        if self.store is None and cfg.materialize:
            matches = matches.localCheckpoint(eager=False)

        cc_edges = matches.select("doc_id_1", "doc_id_2")
        if cfg.sparsify_top_k > 0:
            from ..operators.cc import topk_edge_sparsify

            # matches is pinned when store-backed (_stage scan) or
            # localCheckpoint'd (materialize=True); only the
            # no-store/no-materialize combination leaves it lazy, and
            # there the sparsifier MUST pin — its symmetrize union
            # references matches twice, which would re-run the whole
            # scoring chain per arm
            cc_edges = topk_edge_sparsify(
                matches.select("doc_id_1", "doc_id_2", "score"),
                k=cfg.sparsify_top_k,
                mode="mutual",
                pin=self.store is None and not cfg.materialize,
            )
        clusters = connected_components(
            cc_edges,
            vertices=records.select("doc_id"),
            method=cfg.cc_method,
        )
        clusters = self._stage("clusters", clusters, info, fp)

        return LinkageResult(
            # span-carrying view (store-backed when checkpointing);
            # the span-free internal pin is an execution detail
            records=records if self.store is not None else records_full,
            pairs=pairs,
            scores=scored,
            matches=matches,
            clusters=clusters,
            stage_info=info,
        )

    def _pairs_stage(
        self,
        records: DataFrame,
        records_right: DataFrame | None,
        resuming: bool,
        info: dict,
        fp: str,
    ) -> DataFrame:
        """The candidate pairs stage, self or two-sided."""
        if resuming:
            # don't even BUILD the candidate plan: generate_candidates
            # runs eager jobs at plan-build time (key-table pin, SN
            # global-rank checkpoint + offsets collect) that a resumed
            # run must not pay.  _stage loads the checkpoint without
            # invoking the compute thunk.
            info["dropped_blocks"] = None
            return self._stage("pairs", None, info, fp)
        cfg = self.cfg
        per_core = cfg.score_partitions_per_core
        pairs, dropped = generate_candidates(
            records,
            cfg.blocking,
            records_right=records_right,
            num_partitions=(
                self.spark.sparkContext.defaultParallelism * per_core
                if per_core > 0
                else None
            ),
            materialize_keys=cfg.materialize,
        )
        info["dropped_blocks"] = (
            dropped.count() if self.store is not None else None
        )
        return self._stage("pairs", pairs, info, fp)

    def _stage(
        self, name: str, df: DataFrame | None, info: dict, fp: str
    ) -> DataFrame:
        if self.store is None:
            return df

        def _compute() -> DataFrame:
            # df=None is the resume fast path: the caller checked
            # is_complete() and skipped building the plan.  If the
            # manifest vanished between that check and here (external
            # cleanup, concurrent run), recomputing is impossible —
            # fail with the cause instead of an opaque None.write.
            if df is None:
                raise RuntimeError(
                    f"stage '{name}' checkpoint vanished mid-resume "
                    "(manifest was complete at plan-build time; the "
                    "store was cleaned or invalidated concurrently) — "
                    "re-run the pipeline to recompute"
                )
            return df

        res = self.store.run_stage(name, fp, _compute)
        info[name] = {"resumed": res.resumed, "wall_s": res.wall_s}
        return res.df


class CrossLinkagePipeline:
    """Cross-dataset linkage — the reference's primary flow
    (LDU x HW: compare_ldu_hw.py + main_ldu_hw.py, SURVEY.md §3 entry
    points 2+3).  Two document tables in, one linkage result out:

        left  = the HW-like source (variant columns: name2, phone2,
                address3..., company_name — SURVEY.md §1.1)
        right = the LDU-like source (canonical columns)

    Candidate generation is the blocked equi-join between the two key
    tables (never the reference's driver-materialized cartesian,
    compare_ldu_hw.py:160-163); scoring is the target-max + family
    merge collapsed into one ``greatest`` per family
    (score_pairs_cross); match rules are the D1 masks; clusters come
    from connected components over the bipartite match edges.

    doc_ids must be globally unique across the two tables (they are
    the join identity; the reference used disjoint positional indexes,
    SURVEY.md §1.1 — our stable-id equivalent).
    """

    def __init__(
        self,
        spark: SparkSession,
        cfg: LinkageConfig | None = None,
        store: StageStore | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or LinkageConfig()
        self.store = store

    def run(
        self, documents_left: DataFrame, documents_right: DataFrame
    ) -> LinkageResult:
        from ..config import CROSS_HW_FIELDS, CROSS_LDU_FIELDS
        from ..operators.scoring import score_pairs_cross

        cfg = self.cfg
        if cfg.sparsify_top_k:
            raise ValueError(
                "sparsify_top_k is self-linkage only (LinkagePipeline.run): "
                "CrossLinkagePipeline clusters over the raw bipartite "
                f"match edges (got sparsify_top_k={cfg.sparsify_top_k})."
            )
        info: dict = {}

        min_width = self.spark.sparkContext.defaultParallelism
        if documents_left.rdd.getNumPartitions() < min_width:
            documents_left = documents_left.repartition(2 * min_width)
        if documents_right.rdd.getNumPartitions() < min_width:
            documents_right = documents_right.repartition(2 * min_width)

        # Resume fingerprints cover BOTH inputs AND side membership:
        # per-side fingerprints concatenated (one fingerprint job per
        # side per run).  A union/xor of the two id sets would be
        # side-blind — swapping left/right arguments, or moving a doc
        # between sources, would silently resume stale stages computed
        # with the opposite field orientation (a_<hw> vs b_<ldu>).
        fp = (
            input_fingerprint(documents_left, ["doc_id"])
            + "|"
            + input_fingerprint(documents_right, ["doc_id"])
            if self.store is not None
            else ""
        )
        resuming_pairs = self.store is not None and self.store.is_complete(
            "pairs", fp
        )
        # internal pins carry only the linkage columns (the spans
        # payload is never read by blocking/scoring/CC; see the self
        # pipeline's records pin for the measurement)
        records_l = normalized_fields(documents_left, cfg).select(
            "doc_id", "source", *CROSS_HW_FIELDS
        )
        records_r = normalized_fields(documents_right, cfg).select(
            "doc_id", "source", *CROSS_LDU_FIELDS
        )
        if self.store is None and cfg.materialize:
            records_l = records_l.localCheckpoint(eager=False)
            records_r = records_r.localCheckpoint(eager=False)

        pairs = self._pairs_stage(records_l, records_r, resuming_pairs, info, fp)

        wide_pairs = attach_pair_sides(
            pairs,
            records_l,
            CROSS_HW_FIELDS,
            records_right=records_r,
            fields_right=CROSS_LDU_FIELDS,
        )
        scored = score_pairs_cross(wide_pairs, with_jw=cfg.with_jw)
        scored = with_combined_score(scored, mode="cross")
        scored = self._stage("scores", scored, info, fp)

        matches = rules.match(scored, mode="cross")
        matches = self._stage("matches", matches, info, fp)
        if self.store is None and cfg.materialize:
            matches = matches.localCheckpoint(eager=False)

        vertices = records_l.select("doc_id").unionByName(
            records_r.select("doc_id")
        )
        clusters = connected_components(
            matches.select("doc_id_1", "doc_id_2"),
            vertices=vertices,
            method=cfg.cc_method,
        )
        clusters = self._stage("clusters", clusters, info, fp)

        return LinkageResult(
            records=records_l,
            pairs=pairs,
            scores=scored,
            matches=matches,
            clusters=clusters,
            stage_info=info,
        )

    _pairs_stage = LinkagePipeline._pairs_stage
    _stage = LinkagePipeline._stage

"""Deterministic multi-key blocking (candidate generation).

The reference enumerates the FULL cartesian pair index in driver
memory (compare_ldu_hw.py:160-163 — 17.8M pairs for 3.2k x 5.5k rows);
that is O(n^2) and impossible at 10^12 docs.  This module replaces it
with multi-key blocking (README.md:245 suggests exactly this): each
record emits a small set of deterministic block keys, candidate pairs
are the within-block pairs — an equi-join Catalyst can shuffle/plan,
with AQE skew splitting plus an explicit block-size cap for degenerate
keys.

Keys (SURVEY.md §2.10):
  * ``sx:``  composite Soundex of the first TWO normalized-name tokens
             (built-in ``F.soundex``).  Single-token soundex has only
             ~26*7^3 possible values — at web scale every block is a
             mega-block, so the phonetic family must be composite;
             single-token recall (one token typo'd) is covered by the
             other key families.
  * ``sx1:`` single-token Soundex (off by default, config for small
             corpora).
  * ``sn:``  sorted-neighborhood prefix — first ``sn_prefix`` chars of
             the sorted-token normalized name.
  * ``ph:``/``em:``/``zp:`` exact normalized phone / email / zip
             (high-precision contact keys).

Every key family is a narrow projection + explode; the only shuffle is
the pair join itself.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import built_once


@dataclass(frozen=True)
class BlockingConfig:
    sn_prefix: int = 8
    # blocks up to max_block_size pair up through the plain equi-join;
    # HOT blocks in (max_block_size, salt_drop_factor*max_block_size]
    # go through the salted triangle join (bounded per-task width, no
    # pairs lost); blocks beyond that are dropped as degenerate keys
    # (empty names, placeholder phones) — the record still participates
    # through its other key families, and dropped-block counts are
    # reported via block_census().  At 100TB these are the knobs that
    # bound the pair stage.
    max_block_size: int = 1000
    salt_buckets: int = 8
    salt_drop_factor: int = 16
    use_soundex: bool = True          # composite two-token soundex
    use_soundex_single: bool = False  # single-token soundex (coarse)
    # vowel-preserving NYSIIS composite key ('ny:') — recall tier for
    # name families Soundex over-merges or splits (default off: the
    # default roster already reaches every fixture pair; turn on for
    # corpora with heavy surname-spelling drift)
    use_nysiis: bool = False
    # nickname-folded soundex key ('nk:') — canonicalize the given
    # name through config.NICKNAME_ALIASES, then encode; bridges
    # bob<->robert blocks no phonetic encoder reaches
    use_nickname_soundex: bool = False
    # sn: PREFIX-EQUALITY key (cheap, but a single long common token
    # degenerates it into a mega-block — measured 30M junk pairs from
    # 9 blocks at 198k docs).  Off by default: the windowed pass below
    # is the scalable form; the prefix key remains for small corpora /
    # oracle parity.
    use_sorted_neighborhood: bool = False
    # windowed sorted-neighborhood pass over the sorted name: pair
    # volume bounded at n*(sn_window-1) regardless of skew.  0 = off.
    sn_window: int = 8
    contact_fields: tuple[str, ...] = ("phone", "email", "zip")
    name_field: str = "name"
    fallback_name_fields: tuple[str, ...] = ("company_name",)
    # character q-gram name keys in the candidate union (r5, VERDICT
    # item 6): the script-agnostic recall tier for corpora where the
    # phonetic families are blind (CJK/Cyrillic names — pair with
    # LinkageConfig.unicode_names so the normalizer keeps them).
    # df-pruned ([qgram_min_df, qgram_max_df]) so every emitted block
    # is bounded BY CONSTRUCTION — no cap/salt tier needed.  Default
    # off: on an all-Latin corpus it only duplicates reach the
    # phonetic/SN families already have.
    use_qgram_name: bool = False
    qgram_q: int = 5
    qgram_min_df: int = 2
    qgram_max_df: int = 50


def _name_fields(columns: list[str], cfg: BlockingConfig) -> tuple[str, ...]:
    return tuple(
        c for c in (cfg.name_field, *cfg.fallback_name_fields) if c in columns
    )


def _name_col(fields: tuple[str, ...]) -> Column:
    return built_once(
        ("blocking_name", fields),
        lambda: (
            F.coalesce(*[F.col(c) for c in fields])
            if len(fields) > 1
            else F.col(fields[0])
        ),
    )


def sn_name_key(records: DataFrame, cfg: BlockingConfig) -> tuple[Column, Column]:
    """The sorted-neighborhood sort key — the blocking name: the
    configured name field coalesced with its fallbacks (company_name
    by default), as the key families read it — and the predicate that
    keeps the records having one."""
    fields = _name_fields(records.columns, cfg)
    name = _name_col(fields)
    return name, built_once(
        ("sn_has_name", fields),
        lambda: name.isNotNull() & (name != ""),
    )


def block_keys(records: DataFrame, cfg: BlockingConfig = BlockingConfig()) -> DataFrame:
    """records(doc_id, <normalized fields>) -> (doc_id, block_key).

    Exploded key table, one row per (doc, key); empty/null fields emit
    no key.

    PRECONDITION: ``records`` has exactly ONE row per doc_id (the
    records_view contract).  (doc_id, block_key) uniqueness — and with
    it the block_census counts that drive the cap/salt/drop tier
    assignment — relies on it: duplicated doc_id rows inflate
    block_size (shifting blocks across tiers, including into the
    silent drop tier) and duplicate pair-join rows.  Callers with raw
    inputs must dropDuplicates(["doc_id"]) first.
    """
    columns = records.columns
    fields = _name_fields(columns, cfg)
    # dedupe defensively: a repeated entry in cfg.contact_fields would
    # emit the same key twice per record, silently doubling block_size
    # in the census (same tier-shift failure as duplicated doc_ids)
    contacts = tuple(
        dict.fromkeys(f for f in cfg.contact_fields if f in columns)
    )
    families = (
        cfg.use_soundex,
        cfg.use_soundex_single,
        cfg.use_nysiis,
        cfg.use_nickname_soundex,
        cfg.use_sorted_neighborhood and cfg.sn_prefix,
    )
    key, has_key = built_once(
        ("block_keys", fields, contacts, families),
        lambda: _block_key_columns(fields, contacts, cfg),
    )
    return records.select("doc_id", key).where(has_key)


def _block_key_columns(
    fields: tuple[str, ...], contacts: tuple[str, ...], cfg: BlockingConfig
) -> tuple[Column, Column]:
    name = _name_col(fields)
    first_tok = F.try_element_at(F.split(name, " "), F.lit(1))
    second_tok = F.coalesce(
        F.try_element_at(F.split(name, " "), F.lit(2)), F.lit("")
    )

    keys = []
    if cfg.use_soundex:
        keys.append(
            F.when(
                first_tok.isNotNull() & (first_tok != ""),
                F.concat(
                    F.lit("sx:"),
                    F.soundex(first_tok),
                    F.lit("-"),
                    F.soundex(second_tok),
                ),
            )
        )
    if cfg.use_soundex_single:
        keys.append(
            F.when(
                first_tok.isNotNull() & (first_tok != ""),
                F.concat(F.lit("sx1:"), F.soundex(first_tok)),
            )
        )
    if cfg.use_nysiis:
        from ..functions.normalizers import nysiis

        keys.append(
            F.when(
                first_tok.isNotNull() & (first_tok != ""),
                F.concat(
                    F.lit("ny:"),
                    nysiis(first_tok),
                    F.lit("-"),
                    nysiis(second_tok),
                ),
            )
        )
    if cfg.use_nickname_soundex:
        from ..functions.normalizers import canonical_given_name

        keys.append(
            F.when(
                first_tok.isNotNull() & (first_tok != ""),
                F.concat(
                    F.lit("nk:"),
                    F.soundex(canonical_given_name(first_tok)),
                    F.lit("-"),
                    F.soundex(second_tok),
                ),
            )
        )
    if cfg.use_sorted_neighborhood:
        compact = F.regexp_replace(name, " ", "")
        keys.append(
            F.when(
                F.length(compact) >= 2,
                F.concat(F.lit("sn:"), F.substring(compact, 1, cfg.sn_prefix)),
            )
        )
    prefixes = {"phone": "ph:", "email": "em:", "zip": "zp:", "fax": "fx:"}
    for f_name in contacts:
        c = F.col(f_name)
        keys.append(
            F.when(
                c.isNotNull() & (F.length(c) >= 4),
                F.concat(F.lit(prefixes.get(f_name, f_name + ":")), c),
            )
        )

    # (doc_id, block_key) is unique BY CONSTRUCTION: every key family
    # emits at most one key per record and each family carries a
    # distinct prefix (sx:/sx1:/ny:/nk:/sn:/ph:/em:/zp:/fx:), so no dedup
    # shuffle is needed here — at web scale that was a full hash
    # shuffle of the entire key table for zero removed rows.  Pair
    # duplicates from multi-key reachability are collapsed once at
    # the pair level (candidate_pairs / generate_candidates).
    return (
        F.explode(F.array(*keys)).alias("block_key"),
        F.col("block_key").isNotNull(),
    )


def block_census(keys: DataFrame) -> DataFrame:
    """Skew census: size of every block.  Feeds the cap filter and the
    metrics table (SURVEY.md §4 'must be measured, not assumed')."""
    return keys.groupBy("block_key").agg(F.count("*").alias("block_size"))


def _tier_filters(
    census: DataFrame, cfg: BlockingConfig
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The census thresholds: (over-cap block keys, hot block keys,
    dropped census).  Hot blocks are those in (max_block_size,
    max_block_size * salt_drop_factor]; the dropped census holds the
    blocks above that ceiling.  Both key sets are broadcast — the
    census has one row per distinct block key."""
    size = F.col("block_size")
    ceiling = cfg.max_block_size * cfg.salt_drop_factor
    over_cap = census.where(size > cfg.max_block_size)
    hot = over_cap.where(size <= ceiling)
    return (
        F.broadcast(over_cap.select("block_key")),
        F.broadcast(hot.select("block_key")),
        census.where(size > ceiling),
    )


def cap_blocks(
    keys: DataFrame, cfg: BlockingConfig = BlockingConfig()
) -> tuple[DataFrame, DataFrame]:
    """Split the key table into (kept, dropped_census).

    ``kept`` holds blocks up to the plain-join cap; blocks above the
    salted ceiling (``max_block_size * salt_drop_factor``) land in
    ``dropped_census``.  Hot blocks between the two are NOT in either
    output — ``tiered_pairs`` composes all three tiers.
    """
    over_cap, _, dropped = _tier_filters(block_census(keys), cfg)
    return keys.join(over_cap, "block_key", "left_anti"), dropped


def tiered_pairs(
    keys: DataFrame,
    cfg: BlockingConfig,
    keys_right: DataFrame | None = None,
    census: DataFrame | None = None,
    broadcast_left: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Three-tier candidate generation over (doc_id, block_key) tables:
    plain equi-join for blocks up to ``cfg.max_block_size``, salted
    join for hot blocks up to ``salt_drop_factor`` times that, drop +
    census beyond the ceiling.  Returns (raw_pairs, dropped_census).

    Self mode (``keys_right=None``) pairs within one table
    (``doc_id_1 < doc_id_2``) through the plain self-join and the
    triangle-salted join.  Two-sided mode pairs (left, right) through
    the plain equi-join and the replicate-left salted join; a block's
    width there is |left| x |right|, so the default census counts
    both tables.  Pass a precomputed (ideally pinned) ``census`` to
    share one aggregate — the incremental store passes its merged
    census.

    The pairs are NOT deduplicated: a pair reached through several
    keys (or through one key per tier) appears once per key, and the
    caller runs the one pair-dedup shuffle over everything it unions.

    ``broadcast_left`` hints the two-sided left tables as broadcast
    (a small new-keys side against a large stored side).  The hint is
    applied after the tier filter: Spark drops a hint that sits under
    a join."""
    if census is None:
        census = block_census(
            keys if keys_right is None else keys.unionByName(keys_right)
        )
    over_cap, hot, dropped = _tier_filters(census, cfg)

    def split(k: DataFrame) -> tuple[DataFrame, DataFrame]:
        return (
            k.join(over_cap, "block_key", "left_anti"),
            k.join(hot, "block_key"),
        )

    kept_l, hot_l = split(keys)
    if keys_right is None:
        plain = candidate_pairs(kept_l, dedup=False)
        salted = salted_candidate_pairs(
            hot_l, salt=cfg.salt_buckets, dedup=False
        )
        return plain.unionByName(salted), dropped
    kept_r, hot_r = split(keys_right)
    if broadcast_left:
        kept_l, hot_l = F.broadcast(kept_l), F.broadcast(hot_l)
    plain = candidate_pairs(kept_l, kept_r, dedup=False)
    salted = salted_candidate_pairs_cross(
        hot_l, hot_r, salt=cfg.salt_buckets, dedup=False
    )
    return plain.unionByName(salted), dropped


def salted_candidate_pairs(
    hot_keys: DataFrame,
    salt: int = 8,
    dedup: bool = True,
) -> DataFrame:
    """Self-join pair generation for HOT blocks via the triangle-cell
    salted join — the north-rule "salting hot blocks" operator.

    Naive key-salting (appending ``hash(doc) % s`` to the key) LOSES
    in-block pairs whose two members land in different salt buckets.
    The triangle scheme keeps every pair exactly once while bounding
    per-task width: a pair with buckets (bi, bj) meets in exactly cell
    (min, max) of the s(s+1)/2 triangle cells.  Records are exploded
    with a JOIN ROLE per cell — a bucket-b record feeds the LEFT side
    of cells (b, y>=b) and the RIGHT side of cells (x<=b, b) — so an
    off-diagonal cell's join enumerates exactly m_x * m_y rows.  (An
    earlier version put both buckets' rows on both sides and filtered
    roles post-enumeration, walking (m_x + m_y)^2 ~ 4x the kept pairs
    through the join.)  Replication factor is ``s + 1`` per record and
    the widest cell enumerates ~(m/s)^2 of an m-row block, so the skew
    of a mega-block is spread across s(s+1)/2 independently-scheduled
    join cells instead of one straggler task.
    """
    # every triangle cell twice in one literal array — once per join
    # role; each record keeps its 'l' cells (x == bucket) and 'r'
    # cells (y == bucket): s + 1 entries survive the filter.
    all_cells = F.array(
        *[
            F.struct(
                F.lit(x).alias("x"),
                F.lit(y).alias("y"),
                F.lit(role).alias("role"),
            )
            for x in range(salt)
            for y in range(x, salt)
            for role in ("l", "r")
        ]
    )
    bucketed = hot_keys.select(
        "doc_id",
        "block_key",
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt))
        .cast("int")
        .alias("bucket"),
    )
    salted = bucketed.select(
        "doc_id",
        F.explode(
            F.filter(
                all_cells,
                lambda c: ((c["role"] == F.lit("l")) & (c["x"] == F.col("bucket")))
                | ((c["role"] == F.lit("r")) & (c["y"] == F.col("bucket"))),
            )
        ).alias("cell"),
        F.col("block_key"),
    ).select(
        "doc_id",
        F.concat(
            F.col("block_key"), F.lit("#"),
            F.col("cell.x").cast("string"), F.lit("."),
            F.col("cell.y").cast("string"),
        ).alias("cell_key"),
        F.col("cell.role").alias("role"),
        (F.col("cell.x") == F.col("cell.y")).alias("diag"),
    )
    a = salted.where(F.col("role") == "l").alias("a")
    c = salted.where(F.col("role") == "r").alias("c")
    # diagonal cells self-join a bucket against itself: order the pair
    # to keep it once; off-diagonal cells are already one-sided per
    # bucket, every enumerated row is a kept pair.
    pair_cond = F.when(
        F.col("a.diag"), F.col("a.doc_id") < F.col("c.doc_id")
    ).otherwise(F.lit(True))
    out = (
        a.join(c, "cell_key")
        .where(pair_cond)
        .select(
            F.least(F.col("a.doc_id"), F.col("c.doc_id")).alias("doc_id_1"),
            F.greatest(F.col("a.doc_id"), F.col("c.doc_id")).alias("doc_id_2"),
        )
        .where(F.col("doc_id_1") != F.col("doc_id_2"))
    )
    return out.dropDuplicates(["doc_id_1", "doc_id_2"]) if dedup else out


def salted_candidate_pairs_cross(
    hot_keys_left: DataFrame,
    hot_keys_right: DataFrame,
    salt: int = 8,
    dedup: bool = True,
) -> DataFrame:
    """Cross-dataset pair generation for HOT blocks via the classic
    replicate-one-side salted join.

    Right-side records get a deterministic bucket ``hash(doc) % s``;
    every left-side record is replicated into all ``s`` buckets, so a
    (left, right) pair meets in exactly the right record's bucket —
    no pairs lost, no duplicates created, and the widest task holds
    ~|right block|/s rows instead of the whole block.  (The self-join
    triangle scheme does not apply cross-dataset: pairs are ordered
    (left, right), not unordered.)  Replication factor is ``s`` on
    the left side only — put the smaller table on the left.
    """
    right = hot_keys_right.select(
        F.col("doc_id").alias("doc_id_2"),
        "block_key",
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt))
        .cast("int")
        .alias("_b"),
    )
    left = hot_keys_left.select(
        F.col("doc_id").alias("doc_id_1"),
        "block_key",
        F.explode(F.array(*[F.lit(i) for i in range(salt)])).alias("_b"),
    )
    out = left.join(right, ["block_key", "_b"]).select("doc_id_1", "doc_id_2")
    return out.dropDuplicates(["doc_id_1", "doc_id_2"]) if dedup else out


def generate_candidates(
    records: DataFrame,
    cfg: BlockingConfig = BlockingConfig(),
    records_right: DataFrame | None = None,
    num_partitions: int | None = None,
    materialize_keys: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Full candidate generation: three-tier equality-key pairs
    (``tiered_pairs``: plain / salted / dropped) plus, when
    ``cfg.sn_window > 0``, the windowed sorted-neighborhood pass over
    the name field.  One pair-dedup shuffle over the union.  Returns
    (pairs, dropped_census).  Each record table must carry one row per
    doc_id (see block_keys' precondition — tier assignment depends on
    exact census counts).

    Self mode (``records_right=None``) yields pairs with ``doc_id_1 <
    doc_id_2``.  Two-sided mode (cross linkage) yields (left, right)
    pairs: the census counts both key tables, and the SN pass ranks
    both sides together and keeps cross-side pairs.  doc_ids must be
    unique across the two tables.

    ``num_partitions`` makes the dedup shuffle double as the output
    repartition: the raw pair union is hash-partitioned by
    (doc_id_1, doc_id_2) to that width and deduped within partitions —
    HashPartitioning on the dedup keys satisfies the aggregate's
    required distribution, so Catalyst adds no second exchange, and
    the explicit width is exempt from AQE coalescing (downstream
    scorers want many small partitions: pair rows are ~40 bytes but
    cost ~100us of similarity kernels each, so byte-based sizing
    under-splits).

    ``materialize_keys=True`` pins the exploded key table(s) and the
    census with EAGER localCheckpoints before fanning out: the
    keys/census subplan is referenced by the plain tier, the salt
    tier, and three census reads, and exchange reuse does not reliably
    collapse them — measured 17-23s -> ~11s for the full candidate
    stage at 528k docs (round 1); with the key-dedup shuffle removed
    and the overlapped build below, ~14.8s @ 8 cores / ~10.4s @ 32.
    Off by default because it runs a job at call time (plan builders
    and oracle queries want a lazy frame).

    In the eager mode the two independent preparation chains — the
    key/census pins and the SN global-rank build (count + sample
    jobs + the small rank-table pin) — are submitted from two
    threads: each chain is a sequence of small driver-barrier jobs
    whose wall cost is roughly core-count-independent, so run
    serially they put a constant floor under the candidate phase
    that caps its 8->32 scaling; overlapped, the idle cores of one
    chain's barrier absorb the other chain's work (Spark schedules
    concurrent jobs from separate threads)."""
    if records_right is not None and cfg.use_qgram_name:
        raise ValueError(
            "blocking.use_qgram_name is self-linkage only: q-gram keys "
            "are df-pruned within one record table, so there is no "
            "two-sided form. Turn it off for cross linkage."
        )
    sides = [records] if records_right is None else [records, records_right]

    def _build_key_tiers():
        keys = [block_keys(r, cfg) for r in sides]
        census = None
        if materialize_keys:
            keys = [k.localCheckpoint(eager=True) for k in keys]
            # the census feeds the over-cap/hot/dropped tier filters
            # (aggregate subplans exchange reuse does not reliably
            # collapse); it is tiny (one row per distinct block key)
            # — pin it once alongside the keys.
            union = keys[0] if len(keys) == 1 else keys[0].unionByName(keys[1])
            census = block_census(union).localCheckpoint(eager=True)
        keys_right = keys[1] if len(keys) > 1 else None
        return tiered_pairs(keys[0], cfg, keys_right, census=census)

    def _sn_side(r: DataFrame) -> tuple[DataFrame, Column]:
        name, has_name = sn_name_key(r, cfg)
        return r.where(has_name), name

    def _build_sn():
        left, key = _sn_side(records)
        if records_right is not None:
            right, key_right = _sn_side(records_right)
            return sorted_neighborhood_pairs(
                left, key, cfg.sn_window, right, key_right,
                materialize=materialize_keys,
            )
        sn = sorted_neighborhood_pairs(
            left, key, cfg.sn_window, materialize=materialize_keys
        )
        # self SN emits pairs in RANK order; canonicalize to doc_id
        # order so the final dedup collapses them with the
        # equality-key pairs (an uncanonicalized reversed pair would
        # be scored twice and evade downstream doc_id_1<doc_id_2
        # conventions).
        return sn.select(
            F.least("doc_id_1", "doc_id_2").alias("doc_id_1"),
            F.greatest("doc_id_1", "doc_id_2").alias("doc_id_2"),
        )

    if materialize_keys and cfg.sn_window > 0:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as ex:
            f_tiers = ex.submit(_build_key_tiers)
            f_sn = ex.submit(_build_sn)
            (pairs, dropped), sn = f_tiers.result(), f_sn.result()
        pairs = pairs.unionByName(sn)
    else:
        pairs, dropped = _build_key_tiers()
        if cfg.sn_window > 0:
            pairs = pairs.unionByName(_build_sn())
    if cfg.use_qgram_name:
        # df-pruned q-gram keys are bounded by construction
        # (max_df docs per block), so their pairs go straight into
        # the shared pair-dedup — no tier pass
        qk = qgram_block_keys(
            records,
            field=cfg.name_field,
            q=cfg.qgram_q,
            min_df=cfg.qgram_min_df,
            max_df=cfg.qgram_max_df,
        )
        pairs = pairs.unionByName(candidate_pairs(qk, dedup=False))
    if num_partitions:
        pairs = pairs.repartition(num_partitions, "doc_id_1", "doc_id_2")
    return pairs.dropDuplicates(["doc_id_1", "doc_id_2"]), dropped


def candidate_pairs(
    keys_left: DataFrame,
    keys_right: DataFrame | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Within-block pairs (doc_id_1, doc_id_2).

    Self mode (keys_right=None): unordered pairs, ``doc_id_1 <
    doc_id_2`` (compare_ldu_ldu.py:112-114 semantics, minus the
    cartesian).  Cross mode: left x right within block.  Pairs reached
    via several keys are deduplicated — the multi-key union
    (SURVEY.md §2.5 J4).
    """
    if keys_right is None:
        a = keys_left.alias("a")
        b = keys_left.alias("b")
        pairs = (
            a.join(b, "block_key")
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_id_1"),
                F.col("b.doc_id").alias("doc_id_2"),
            )
        )
    else:
        pairs = (
            keys_left.withColumnRenamed("doc_id", "doc_id_1")
            .join(keys_right.withColumnRenamed("doc_id", "doc_id_2"), "block_key")
            .select("doc_id_1", "doc_id_2")
        )
    return pairs.dropDuplicates(["doc_id_1", "doc_id_2"]) if dedup else pairs


def refined_block_keys(
    records: DataFrame,
    key_levels: list[Column] | tuple[Column, ...],
    max_block_size: int = 1000,
    prefix: str = "dy:",
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Dynamic hierarchical block refinement (the size-constrained
    blocking of McNeill, Kardes & Borthwick, "Dynamic Record Blocking"
    KDD'12 workshop / the eBay-scale variant): an oversized block is
    not capped, salted, or dropped — its key is EXTENDED with the next
    key component and re-censused, recursively, until every emitted
    block fits ``max_block_size`` or the component hierarchy is
    exhausted.  Where the cap/salt/drop tier trades recall for bounded
    work on degenerate keys (the record survives only via its OTHER
    key families), refinement keeps every record blocked at the finest
    level that fits — the recall-preserving answer when a coarse key
    family (first-letter, metro-area zip prefix, top-level domain) is
    the only one a sparse record has.

    ``key_levels`` is the component hierarchy: level-i's key is the
    separator-joined concat of components 1..i (null components become
    '' — two records null on a component still co-block on the
    others).  Records whose LEVEL-1 component is null/empty emit no
    key (same contract as block_keys).

    Returns ``(keys, leftover_census)``:
      * ``keys(doc_id, block_key, refine_level)`` — each record's
        final key, tagged with the level that fit.  A record appears
        at most once: refinement PARTITIONS each oversized block into
        its children rather than multiplying membership, so
        ``candidate_pairs(keys, dedup=False)`` is exact here (one key
        per doc, same argument as single-probe LSH).
      * ``leftover_census(block_key, block_size)`` — blocks still over
        the cap at the deepest level (identical twins of a degenerate
        record, e.g. one shared placeholder value in EVERY component).
        Route them to the salt tier (``salted_candidate_pairs``) or
        drop-with-report, exactly like tiered_pairs' third tier
        — refinement shrinks that tier, it does not replace the
        reporting contract.

    Scale shape: level i is ONE census groupBy on the level-i key plus
    two joins against the oversized-key set; that set holds at most
    ``n / max_block_size`` keys (every oversized key owns > cap
    records) and only keys that were oversized at EVERY shallower
    level, so it shrinks geometrically — broadcast here (consistent
    with cap_blocks), switch to a keyed semi-join at corpus sizes
    where n/cap outgrows the broadcast threshold.  The doc set
    entering level i+1 is exactly the oversized blocks' members, so
    per-level work decreases monotonically.  ``materialize=True`` pins
    the shrinking remainder between levels.  PLAN-SIZE HAZARD in the
    lazy form: every level references ``remaining`` from THREE places
    (census, anti join, semi join), so an unpinned input's logical
    plan duplicates ~3^levels times — with a cheap scan input that is
    harmless, but a records table carrying the full normalize chain
    inflates analysis cost (and can OOM the driver building the plan
    string).  Pin the input (localCheckpoint / the records memo) or
    pass ``materialize=True`` when the input lineage is deep.

    Reference parity: the reference has ONE implicit block (the full
    cartesian, compare_ldu_hw.py:160-163); this operator exists for
    the 10^12-doc regime where even good keys have heavy tails.
    """
    if not key_levels:
        raise ValueError("key_levels must name at least one component")
    # unit separator between components: without one, components
    # ("ab","c") and ("a","bc") would collide into one block key
    sep = F.lit("\x1f")
    comps = [F.coalesce(c.cast("string"), F.lit("")) for c in key_levels]
    cum: list[Column] = []
    acc = comps[0]
    cum.append(F.concat(F.lit(prefix), acc))
    for c in comps[1:]:
        acc = F.concat(acc, sep, c)
        cum.append(F.concat(F.lit(prefix), acc))

    first = comps[0]
    keyed = records.where(first.isNotNull() & (first != "")).select(
        "doc_id", *[k.alias(f"_k{i}") for i, k in enumerate(cum)]
    )

    emitted: list[DataFrame] = []
    remaining = keyed
    n_levels = len(cum)
    for i in range(n_levels):
        kcol = f"_k{i}"
        census = remaining.groupBy(kcol).agg(
            F.count("*").alias("block_size")
        )
        oversized = census.where(
            F.col("block_size") > max_block_size
        ).select(kcol)
        emitted.append(
            remaining.join(F.broadcast(oversized), kcol, "left_anti").select(
                "doc_id",
                F.col(kcol).alias("block_key"),
                F.lit(i + 1).cast("int").alias("refine_level"),
            )
        )
        remaining = remaining.join(F.broadcast(oversized), kcol, "left_semi")
        if materialize and i < n_levels - 1:
            remaining = remaining.localCheckpoint(eager=True)

    leftover = remaining.groupBy(
        F.col(f"_k{n_levels - 1}").alias("block_key")
    ).agg(F.count("*").cast("long").alias("block_size"))

    keys = emitted[0]
    for part in emitted[1:]:
        keys = keys.unionByName(part)
    return keys, leftover


def global_ranks(
    records: DataFrame,
    sort_key,
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    carry_cols: tuple[str, ...] = (),
    materialize: bool = False,
) -> DataFrame:
    """(id, _rank): dense global rank by (sort_key, id) WITHOUT a
    single-partition window.

    Round-3 shape (replacing the repartitionByRange + eager
    localCheckpoint + offsets-collect recipe, whose two driver
    barriers put a core-count-independent wall floor under the SN
    candidate phase — the r2 review's remaining 8->32 scaling target):

      1. ONE cheap count job + ONE tiny seeded-sample collect learn
         the key distribution; ~``n_part - 1`` sample quantiles become
         LITERAL range bounds, so bucket assignment is a deterministic
         native expression — no sampled-partitioning nondeterminism,
         hence nothing to checkpoint;
      2. ranks are row_number within bucket + a cumulative offset, and
         the offsets come from a broadcast-joined per-bucket census
         cumsum (a window over <= n_part tiny rows) — all LAZY, so the
         whole rank plan fuses into the downstream pair join's DAG
         instead of materializing behind a barrier.

    Correctness does not depend on the sample (only balance does):
    ties on the key land in one bucket by construction, and the
    census/rank passes evaluate the same literal-bounds expression.

    ``materialize=True`` pins the FINISHED rank table (id, _rank —
    bytes-per-row tiny, unlike the old full (id, key) checkpoint) with
    one eager job.  Callers that reference the result more than once
    (the SN neighborhood join reads it as both sides) should pass it:
    without the pin each reference re-evaluates the whole
    scan->bucket->window chain (exchange reuse only dedups the shuffle
    below the window, not the window/sort above it).
    """
    from pyspark.sql import Window

    spark = records.sparkSession
    n_part = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    if num_partitions is None:
        # the rank frame is (id, key) only; cap the default width so
        # the rank shuffle doesn't degenerate into fleets of
        # near-empty tasks on wide sessions.  Large corpora should
        # pass num_partitions explicitly.
        n_part = max(8, min(n_part, 64))
    base = records.select(
        F.col(id_col),
        sort_key.alias("_k"),
        *[F.col(c) for c in carry_cols],
    )
    n = base.count()
    n_part = max(1, min(n_part, n or 1))
    bounds: list = []
    if n_part > 1:
        frac = min(1.0, (n_part * 20.0) / max(n, 1))
        sample = sorted(
            r["_k"]
            for r in base.select("_k").sample(False, frac, seed=42).collect()
            if r["_k"] is not None
        )
        if sample:
            step = len(sample) / n_part
            # sorted-set: skewed samples produce duplicate cut keys —
            # fewer (still correct) buckets
            bounds = sorted({sample[int(step * i)] for i in range(1, n_part)})
    if bounds:
        # plain when-sum chain, NOT a HOF fold: a lambda here trips a
        # Catalyst INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND when the bucket
        # expression collapses into the census window chain over
        # in-memory relations, and the chain whole-stage-codegens
        bucket = sum(
            (
                F.when(F.col("_k") >= F.lit(b), F.lit(1)).otherwise(F.lit(0))
                for b in bounds
            ),
            F.lit(0),
        )
    else:
        bucket = F.lit(0)
    bucketed = base.withColumn("_bucket", bucket)
    census = bucketed.groupBy("_bucket").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = census.select(
        "_bucket",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
    )
    w = Window.partitionBy("_bucket").orderBy("_k", id_col)
    ranked = bucketed.join(F.broadcast(offsets), "_bucket").select(
        F.col(id_col),
        (F.row_number().over(w) + F.col("_off")).alias("_rank"),
        *[F.col(c) for c in carry_cols],
    )
    if materialize:
        ranked = ranked.localCheckpoint(eager=True)
    return ranked


def sorted_neighborhood_pairs(
    records: DataFrame,
    sort_key,
    window: int = 5,
    records_right: DataFrame | None = None,
    sort_key_right=None,
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Classic sorted-neighborhood pass: order records by ``sort_key``
    and pair every record with its ``window-1`` successors.

    Pair volume is bounded at n*(window-1) REGARDLESS of value skew —
    this is the scalable complement to prefix-equality name keys,
    which degenerate into mega-blocks when one long token dominates
    the prefix.  Global ranks come from ``global_ranks`` (range
    partitioning + offset ranks, no single-partition window); the
    neighborhood join is a bucketed equi-join (bucket = rank div
    window; each record also joins its predecessor bucket) + a
    rank-distance filter — no cartesian, no driver-side pair state.
    Self-mode pairs come out in rank order (doc_id_1 ranks first).

    Two-sided mode (``records_right`` with ``sort_key_right``) ranks
    the UNION of both sides, each row tagged with its side, and keeps
    only cross-side pairs within the window, oriented (left doc_id_1,
    right doc_id_2) — the cross-linkage recall tier for a name typo
    that flips every equality key.  doc_ids must be unique across the
    two inputs.  Callers drop rows without a sort key beforehand.

    ``materialize`` pins the rank table (read by BOTH join sides) —
    pass True in eager pipeline builds, False for lazy/oracle frames.
    """
    if records_right is None:
        carry: tuple[str, ...] = ()
        ranked = global_ranks(
            records, sort_key, id_col, num_partitions, materialize=materialize
        )
    else:
        carry = ("_side",)
        union = records.select(
            F.col(id_col), sort_key.alias("_k"), F.lit(0).alias("_side")
        ).unionByName(
            records_right.select(
                F.col(id_col), sort_key_right.alias("_k"), F.lit(1).alias("_side")
            )
        )
        ranked = global_ranks(
            union, F.col("_k"), id_col, num_partitions, carry_cols=carry,
            materialize=materialize,
        )
    # One-sided bucketing makes every qualifying pair meet in EXACTLY
    # one bucket, so no dedup shuffle is needed: for a pair with ranks
    # ra < rb and rb - ra < window, the higher side's primary bucket
    # db = rb div window satisfies db in {da, da+1} — the lower side
    # explodes to those two candidate buckets, the higher side joins
    # on its primary bucket only.  (Two-sided explode — both records
    # emitting {d, d-1} — makes same-bucket pairs meet twice and
    # forces a 3.7M-row dropDuplicates at 528k docs.)
    div = (F.col("_rank") / window).cast("long")
    lo = ranked.select(
        F.col(id_col).alias("doc_id_1"),
        F.col("_rank").alias("_rank_lo"),
        *[F.col(c).alias(c + "_lo") for c in carry],
        F.explode(F.array(div, div + 1)).alias("_bucket"),
    )
    hi = ranked.select(
        F.col(id_col).alias("doc_id_2"),
        F.col("_rank").alias("_rank_hi"),
        *[F.col(c).alias(c + "_hi") for c in carry],
        div.alias("_bucket"),
    )
    pairs = lo.join(hi, "_bucket").where(
        (F.col("_rank_hi") > F.col("_rank_lo"))
        & (F.col("_rank_hi") - F.col("_rank_lo") < window)
    )
    if records_right is None:
        return pairs.select("doc_id_1", "doc_id_2")
    lo_is_left = F.col("_side_lo") == 0
    return pairs.where(F.col("_side_lo") != F.col("_side_hi")).select(
        F.when(lo_is_left, F.col("doc_id_1"))
        .otherwise(F.col("doc_id_2"))
        .alias("doc_id_1"),
        F.when(lo_is_left, F.col("doc_id_2"))
        .otherwise(F.col("doc_id_1"))
        .alias("doc_id_2"),
    )


def blocking_family_stats(
    keys: DataFrame, labeled: DataFrame, pin: bool = True
) -> DataFrame:
    """Per-key-family blocking contribution analysis — which families
    earn their pair volume.  `blocking_recall` answers "does blocking
    reach the truth overall"; this answers the design question behind
    it: per family (the prefix before ':' in the block key — sn:, ph:,
    em:, zp:, tk:, mc:, ...) how many candidate pairs it generates,
    how many labeled true pairs it reaches, and how many true pairs
    ONLY it reaches (its unique recall contribution — the families
    with zero unique contribution are pure cost and can be dropped).

    Input: ``keys(doc_id, block_key)`` (capped), ``labeled(doc_id_1,
    doc_id_2, is_match)``.  Output: one row per family with
    ``n_keys, n_pairs, n_true_pairs, n_unique_true, pair_efficiency``.

    Scale shape: the per-family pair enumeration is the SAME join the
    candidate stage runs (keyed on block_key, capped upstream), kept
    per-family instead of dedup'd across families; then one label
    join keyed on the pair id and three small groupBys.  This is a
    diagnostic op — run it on a sample or at design time, not in the
    per-batch hot path.
    """
    fam = F.substring_index(F.col("block_key"), ":", 1)
    a, b = keys.alias("a"), keys.alias("b")
    fam_pairs = (
        a.join(b, "block_key")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            fam.alias("family"),
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
        .dropDuplicates(["family", "doc_id_1", "doc_id_2"])
    )
    lab = labeled.where(F.col("is_match")).select(
        F.least("doc_id_1", "doc_id_2").alias("doc_id_1"),
        F.greatest("doc_id_1", "doc_id_2").alias("doc_id_2"),
    ).dropDuplicates(["doc_id_1", "doc_id_2"]).withColumn(
        "lab", F.lit(True)
    )
    # fl feeds reach, uniq (both sides), and per_fam — without a pin
    # the per-family self-join above re-executes once per reference
    # (~4x the most expensive subplan; exchange reuse does not dedup
    # plans referenced from separate aggregates).
    from .dedup import _pin

    fl = _pin(
        fam_pairs.join(lab, ["doc_id_1", "doc_id_2"], "left").withColumn(
            "lab", F.coalesce(F.col("lab"), F.lit(False))
        ),
        pin,
    )
    reach = (
        fl.where(F.col("lab"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count("*").alias("n_fams"))
    )
    uniq = (
        fl.where(F.col("lab"))
        .join(
            reach.where(F.col("n_fams") == 1).select("doc_id_1", "doc_id_2"),
            ["doc_id_1", "doc_id_2"],
            "left_semi",
        )
        .groupBy("family")
        .agg(F.count("*").cast("long").alias("n_unique_true"))
    )
    per_fam = fl.groupBy("family").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.col("lab").cast("long")).alias("n_true_pairs"),
    )
    n_keys = keys.select(fam.alias("family"), "block_key").groupBy(
        "family"
    ).agg(F.count_distinct("block_key").cast("long").alias("n_keys"))
    return (
        n_keys.join(per_fam, "family", "left")
        .join(uniq, "family", "left")
        .select(
            "family",
            "n_keys",
            F.coalesce(F.col("n_pairs"), F.lit(0).cast("long")).alias(
                "n_pairs"
            ),
            F.coalesce(F.col("n_true_pairs"), F.lit(0).cast("long")).alias(
                "n_true_pairs"
            ),
            F.coalesce(
                F.col("n_unique_true"), F.lit(0).cast("long")
            ).alias("n_unique_true"),
            F.round(
                F.when(
                    F.col("n_pairs") > 0,
                    F.coalesce(F.col("n_true_pairs"), F.lit(0))
                    / F.col("n_pairs"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("pair_efficiency"),
        )
    )


def suffix_block_keys(
    records: DataFrame,
    field: str = "name",
    min_suffix_len: int = 5,
    min_df: int = 2,
    max_df: int = 50,
    prefix: str = "sx:",
) -> DataFrame:
    """Suffix-array blocking (Aizawa & Oyama 2005; Christen 2012 §4.5
    lists it with standard / sorted-neighborhood / q-gram / canopy as
    the canonical blocking families): every suffix of the compacted
    field value with length >= ``min_suffix_len`` becomes a candidate
    block key, so two values agreeing on ANY sufficiently long tail —
    the common case for prefix typos, truncations, and OCR noise at
    the front of a string ("mueller-schmidt" vs "ueller-schmidt") —
    land in a shared block even when their standard prefix keys and
    token sets differ.

    Document-frequency pruning keeps only suffixes seen in [min_df,
    max_df] docs: df-1 suffixes pair nothing, and frequent suffixes
    ("...street") would be unselective mega-blocks — the df ceiling
    bounds every emitted block at ``max_df`` docs BY CONSTRUCTION,
    the same pre-bounded guarantee as rare-token blocking (no cap/salt
    tier needed downstream).

    Scale shape: one narrow explode (a value of length L emits
    L - min_suffix_len + 1 suffixes — bounded, and suffixes of one
    string are pairwise distinct so no per-doc dedup), one
    map-combinable df census, one left-semi join back on the suffix
    (both sides already hash-partition by it).  All native expressions
    (whole plan JVM-side); output follows the (doc_id, block_key)
    contract so census/candidate_pairs/salting compose unchanged.
    """
    compact = F.lower(
        F.regexp_replace(F.coalesce(F.col(field), F.lit("")), " ", "")
    )
    sfx = (
        records.select("doc_id", compact.alias("_v"))
        .where(F.length("_v") >= F.lit(min_suffix_len))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(_v) - {min_suffix_len} + 1),"
                    " i -> substring(_v, i))"
                )
            ).alias("sfx"),
        )
    )
    selective = (
        sfx.groupBy("sfx")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where((F.col("df") >= min_df) & (F.col("df") <= max_df))
        .select("sfx")
    )
    return sfx.join(selective, "sfx", "left_semi").select(
        "doc_id", F.concat(F.lit(prefix), F.col("sfx")).alias("block_key")
    )


def sql_suffix_block_keys(
    norm_table: str = "norm",
    field: str = "name",
    min_suffix_len: int = 5,
    min_df: int = 2,
    max_df: int = 50,
    prefix: str = "sx:",
) -> str:
    """DuckDB twin of :func:`suffix_block_keys` — CTE tail defining
    ``sxkeys(doc_id, block_key)``; caller prepends the chain that
    defines ``norm``."""
    compact = (
        f"lower(replace(coalesce(\"{field}\", ''), ' ', ''))"
    )
    return f"""sfx AS MATERIALIZED (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, length(_v) - {min_suffix_len} + 2),
                       i -> substr(_v, CAST(i AS INT)))) AS sfx
            FROM (SELECT doc_id, {compact} AS _v FROM {norm_table})
            WHERE length(_v) >= {min_suffix_len}
        ),
        selective AS (
            SELECT sfx FROM sfx
            GROUP BY sfx
            HAVING count(DISTINCT doc_id) BETWEEN {min_df} AND {max_df}
        ),
        sxkeys AS (
            SELECT doc_id, '{prefix}' || sfx AS block_key FROM sfx
            WHERE sfx IN (SELECT sfx FROM selective)
        )"""


def canopy_assignments(
    records: DataFrame,
    field: str = "name",
    t1: float = 0.8,
    t2: float = 0.5,
    min_df: int = 2,
    max_df: int = 50,
    pin: bool = True,
) -> DataFrame:
    """Canopy clustering (McCallum, Nigam & Ungar, KDD 2000) as a
    deterministic, fully-parallel relaxation — the last member of the
    classical blocking-family roster (standard / sorted-neighborhood /
    q-gram / suffix / canopy, Christen 2012 §4.6): overlapping
    candidate groups built with a CHEAP metric (token Jaccard here) so
    an expensive scorer only runs within canopies.

    The original algorithm is inherently sequential (greedily pop a
    random point, remove everything within the tight threshold T1);
    distributed implementations (e.g. Mahout's) replace it with a
    per-partition greedy pass whose output depends on partitioning.
    This operator uses the order-free relaxation instead: a doc is a
    CENTER iff no smaller-id doc lies within T1 of it.  That rule is
    one anti-join, deterministic under any partitioning, and yields a
    superset of a greedy pass's centers (every greedy center is
    undominated at the moment it's popped; here domination is settled
    globally by id), so canopy COVERAGE — the recall guarantee the
    downstream scorer relies on — is preserved while losing the serial
    dependency.  Overlap is intentional: canopies are candidate
    covers, not a partition.

    Output: ``(doc_id, canopy_id)`` — one row per membership, centers
    belong to their own canopy, docs with no center within T2 (loose
    threshold) survive as self-canopies, so every doc appears >= 1
    time and downstream per-canopy scoring never silently drops rows.

    Scale shape: the cheap-pair set is the df-pruned token-blocking
    join (every block pre-bounded by ``max_df``); the center rule is
    one broadcast-size anti-join against the T1-dominated id set; the
    assignment is two projections of the same pair set + one
    dedup-free union.  No window, no cartesian, nothing sequential.
    """
    from .dedup import _pin
    from ..functions.text import tokens

    toks = _pin(
        records.select(
            "doc_id",
            F.array_distinct(
                tokens(F.coalesce(F.col(field), F.lit("")))
            ).alias("_t"),
        ),
        pin,
    )
    tok = toks.select("doc_id", F.explode("_t").alias("tok"))
    selective = (
        tok.groupBy("tok")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where((F.col("df") >= min_df) & (F.col("df") <= max_df))
        .select("tok")
    )
    keyed = tok.join(selective, "tok", "left_semi")
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, "tok")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
        .dropDuplicates(["doc_id_1", "doc_id_2"])
    )
    t1c, t2c = toks.alias("t1c"), toks.alias("t2c")
    inter = F.size(F.array_intersect(F.col("t1c._t"), F.col("t2c._t")))
    union = (
        F.size(F.col("t1c._t")) + F.size(F.col("t2c._t")) - inter
    )
    jac = F.when(
        union > F.lit(0), inter.cast("double") / union.cast("double")
    ).otherwise(F.lit(1.0))
    pairs = _pin(
        cand.join(t1c, F.col("doc_id_1") == F.col("t1c.doc_id"))
        .join(t2c, F.col("doc_id_2") == F.col("t2c.doc_id"))
        .select("doc_id_1", "doc_id_2", jac.alias("jac"))
        .where(F.col("jac") >= F.lit(t2)),
        pin,
    )
    dominated = (
        pairs.where(F.col("jac") >= F.lit(t1))
        .select(F.col("doc_id_2").alias("doc_id"))
        .distinct()
    )
    all_ids = records.select("doc_id")
    centers = all_ids.join(dominated, "doc_id", "left_anti")
    # memberships: center-side and member-side projections of the
    # T2 pair set, restricted to pairs whose canopy end is a center
    m1 = pairs.join(
        centers.select(F.col("doc_id").alias("doc_id_1")), "doc_id_1"
    ).select(
        F.col("doc_id_2").alias("doc_id"),
        F.col("doc_id_1").alias("canopy_id"),
    )
    m2 = pairs.join(
        centers.select(F.col("doc_id").alias("doc_id_2")), "doc_id_2"
    ).select(
        F.col("doc_id_1").alias("doc_id"),
        F.col("doc_id_2").alias("canopy_id"),
    )
    self_rows = centers.select(
        "doc_id", F.col("doc_id").alias("canopy_id")
    )
    covered = m1.unionByName(m2).unionByName(self_rows).distinct()
    uncovered = all_ids.join(
        covered.select("doc_id").distinct(), "doc_id", "left_anti"
    ).select("doc_id", F.col("doc_id").alias("canopy_id"))
    return covered.unionByName(uncovered)


def sql_canopy_assignments(
    norm_table: str = "norm",
    field: str = "name",
    t1: float = 0.8,
    t2: float = 0.5,
    min_df: int = 2,
    max_df: int = 50,
) -> str:
    """DuckDB twin of :func:`canopy_assignments` — full query body;
    caller prepends the chain defining ``norm``."""
    from ..functions.text import sql_tokens

    toks = "list_distinct(" + sql_tokens(
        'coalesce("' + field + '", ' + "''" + ")"
    ) + ")"
    return f"""ctoks AS MATERIALIZED (
            SELECT doc_id, {toks} AS _t FROM {norm_table}
        ),
        ctok AS (SELECT doc_id, unnest(_t) AS tok FROM ctoks),
        cselective AS (
            SELECT tok FROM ctok GROUP BY tok
            HAVING count(DISTINCT doc_id) BETWEEN {min_df} AND {max_df}
        ),
        ckeyed AS (
            SELECT doc_id, tok FROM ctok
            WHERE tok IN (SELECT tok FROM cselective)
        ),
        ccand AS (
            SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
            FROM ckeyed a JOIN ckeyed b
              ON a.tok = b.tok AND a.doc_id < b.doc_id
        ),
        cpairs AS MATERIALIZED (
            SELECT doc_id_1, doc_id_2,
                   CASE WHEN len(ta._t) + len(tb._t)
                             - len(list_intersect(ta._t, tb._t)) > 0
                        THEN CAST(len(list_intersect(ta._t, tb._t))
                                  AS DOUBLE)
                             / CAST(len(ta._t) + len(tb._t)
                                    - len(list_intersect(ta._t, tb._t))
                                    AS DOUBLE)
                        ELSE 1.0 END AS jac
            FROM ccand c
            JOIN ctoks ta ON c.doc_id_1 = ta.doc_id
            JOIN ctoks tb ON c.doc_id_2 = tb.doc_id
            WHERE jac >= {t2!r}
        ),
        ccenters AS MATERIALIZED (
            SELECT doc_id FROM {norm_table}
            WHERE doc_id NOT IN (
                SELECT doc_id_2 FROM cpairs WHERE jac >= {t1!r}
            )
        ),
        ccovered AS MATERIALIZED (
            SELECT DISTINCT doc_id, canopy_id FROM (
                SELECT p.doc_id_2 AS doc_id, p.doc_id_1 AS canopy_id
                FROM cpairs p
                WHERE p.doc_id_1 IN (SELECT doc_id FROM ccenters)
                UNION ALL
                SELECT p.doc_id_1 AS doc_id, p.doc_id_2 AS canopy_id
                FROM cpairs p
                WHERE p.doc_id_2 IN (SELECT doc_id FROM ccenters)
                UNION ALL
                SELECT doc_id, doc_id AS canopy_id FROM ccenters
            )
        )
        SELECT doc_id, canopy_id FROM ccovered
        UNION ALL
        SELECT doc_id, doc_id AS canopy_id FROM {norm_table}
        WHERE doc_id NOT IN (SELECT doc_id FROM ccovered)
    """


def blocking_plan(
    keys: DataFrame,
    labeled: DataFrame,
    families: tuple[str, ...] | None = None,
    target_recall: float = 0.98,
    pin: bool = True,
) -> DataFrame:
    """EXACT blocking-key-set optimizer: enumerate every non-empty
    subset of the key families and report its candidate-pair cost and
    labeled-pair recall, marking the cheapest subset that meets the
    recall target.  At 100 TB the candidate volume each key family
    generates IS the pair-scoring bill, and families overlap — summing
    per-family stats (``blocking_family_stats``) over-counts shared
    pairs, so subset selection needs the exact union cardinality this
    computes.

    The trick that makes exhaustive enumeration free: tag each
    candidate pair with a FAMILY BITMASK (one bit per family that
    generated it), collapse the pair set to a mask HISTOGRAM (at most
    2^k rows), and evaluate all 2^k - 1 subsets against the histogram
    with a bitwise AND — the exponential enumeration runs on a
    k-bounded table, never on pairs.  Recall denominators count ALL
    labeled true pairs, including ones no family reaches (mask 0), so
    this is end-to-end blocking recall, comparable to
    ``blocking_recall``.

    Output: one row per subset — ``(subset, families, n_families,
    n_pairs, n_true, total_true, meets_target, chosen)``; recall is
    ``n_true / total_true``, kept as two exact integers (``total_true``
    is the same on every row).  ``chosen`` marks the cheapest subset
    meeting the target (or, if none does, the highest-recall one;
    ties -> fewer pairs, then lower subset id).

    Scale shape: the per-family pair join is the same capped key join
    the candidate stage runs; one (pair -> mask) groupBy; everything
    after operates on <= 2^k + 2^k rows.  Design-time op: run on a
    sample or at small SF, apply the chosen plan at full scale.
    """
    from pyspark.sql import Window

    from .dedup import _pin

    if families is None:
        families = tuple(
            sorted(
                r[0]
                for r in keys.select(
                    F.substring_index("block_key", ":", 1).alias("f")
                )
                .distinct()
                .collect()
            )
        )
    k = len(families)
    if not 0 < k <= 12:
        raise ValueError(f"blocking_plan: need 1..12 families, got {k}")
    bits = {f: 1 << i for i, f in enumerate(families)}

    fam = F.substring_index(F.col("block_key"), ":", 1)
    a, b = keys.alias("a"), keys.alias("b")
    fam_pairs = (
        a.join(b, "block_key")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            fam.alias("family"),
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
        .dropDuplicates(["family", "doc_id_1", "doc_id_2"])
    )
    bit_expr = None
    for f, v in bits.items():
        c = F.when(F.col("family") == f, F.lit(v))
        bit_expr = c if bit_expr is None else bit_expr.when(
            F.col("family") == f, F.lit(v)
        )
    bit_expr = bit_expr.otherwise(F.lit(0))
    pair_masks = _pin(
        fam_pairs.groupBy("doc_id_1", "doc_id_2").agg(
            F.sum(bit_expr).cast("long").alias("mask")
        ),
        pin,
    )
    hist = pair_masks.groupBy("mask").agg(F.count("*").alias("n"))
    lab = (
        labeled.where(F.col("is_match"))
        .select(
            F.least("doc_id_1", "doc_id_2").alias("doc_id_1"),
            F.greatest("doc_id_1", "doc_id_2").alias("doc_id_2"),
        )
        .dropDuplicates(["doc_id_1", "doc_id_2"])
    )
    true_hist = (
        lab.join(pair_masks, ["doc_id_1", "doc_id_2"], "left")
        .select(F.coalesce("mask", F.lit(0)).alias("mask"))
        .groupBy("mask")
        .agg(F.count("*").alias("n"))
    )

    subsets = keys.sparkSession.range(1, 1 << k).select(
        F.col("id").alias("subset")
    )
    hit = F.col("mask").bitwiseAND(F.col("subset")) != 0
    # LEFT join on true, not a cross join: an empty histogram (no
    # candidate pairs / no labeled true pairs) must still yield the
    # full 2^k - 1 subset rows with zero counts, never an empty frame
    p = (
        subsets.join(F.broadcast(hist), F.lit(True), "left")
        .groupBy("subset")
        .agg(
            F.coalesce(F.sum(F.when(hit, F.col("n"))), F.lit(0)).alias(
                "n_pairs"
            )
        )
    )
    t = (
        subsets.join(F.broadcast(true_hist), F.lit(True), "left")
        .groupBy("subset")
        .agg(
            F.coalesce(F.sum(F.when(hit, F.col("n"))), F.lit(0)).alias(
                "n_true"
            ),
            F.coalesce(F.sum("n"), F.lit(0)).alias("total_true"),
        )
    )
    fam_names = F.concat_ws(
        ",",
        *[
            F.when(
                F.col("subset").bitwiseAND(F.lit(v)) != 0, F.lit(f)
            )
            for f, v in bits.items()
        ],
    )
    n_fams = None
    for f, v in bits.items():
        term = (F.col("subset").bitwiseAND(F.lit(v)) != 0).cast("int")
        n_fams = term if n_fams is None else n_fams + term
    recall_raw = F.when(
        F.col("total_true") > 0,
        F.col("n_true").cast("double") / F.col("total_true"),
    ).otherwise(F.lit(0.0))
    meets = recall_raw >= F.lit(float(target_recall))
    scored = p.join(t, "subset").select(
        "subset",
        fam_names.alias("families"),
        n_fams.alias("n_families"),
        "n_pairs",
        "n_true",
        "total_true",
        meets.alias("meets_target"),
        # total_true is one value for every subset, so n_true DESC
        # orders the non-meeting rows by recall without a double
        F.when(meets, F.lit(0)).otherwise(-F.col("n_true")).alias("_k2"),
    )
    w = Window.orderBy(
        F.col("meets_target").desc(),
        F.col("_k2").asc(),
        F.col("n_pairs").asc(),
        F.col("subset").asc(),
    )
    return (
        scored.withColumn("chosen", F.row_number().over(w) == 1)
        .drop("_k2")
    )


def sql_blocking_plan(
    families: tuple[str, ...],
    target_recall: float = 0.98,
    keys_src: str = "keys_capped",
    labels_src: str = "labels",
) -> str:
    """DuckDB twin of :func:`blocking_plan` — ``keys_src`` exposes
    (doc_id, block_key), ``labels_src`` canonical true pairs
    (doc_id_1 < doc_id_2)."""
    k = len(families)
    bits = {f: 1 << i for i, f in enumerate(families)}
    bit_case = (
        "CASE family "
        + " ".join(f"WHEN '{f}' THEN {v}" for f, v in bits.items())
        + " ELSE 0 END"
    )
    fam_names = ", ".join(
        f"CASE WHEN (subset & {v}) <> 0 THEN '{f}' END"
        for f, v in bits.items()
    )
    n_fams = " + ".join(
        f"(CASE WHEN (subset & {v}) <> 0 THEN 1 ELSE 0 END)"
        for v in bits.values()
    )
    return f"""
        fp AS (
            SELECT DISTINCT split_part(a.block_key, ':', 1) AS family,
                   a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
            FROM {keys_src} a JOIN {keys_src} b
              ON a.block_key = b.block_key AND a.doc_id < b.doc_id
        ),
        pair_masks AS MATERIALIZED (
            SELECT doc_id_1, doc_id_2,
                   CAST(sum({bit_case}) AS BIGINT) AS mask
            FROM fp GROUP BY 1, 2
        ),
        hist AS (
            SELECT mask, CAST(count(*) AS BIGINT) AS n
            FROM pair_masks GROUP BY 1
        ),
        true_hist AS (
            SELECT coalesce(p.mask, 0) AS mask,
                   CAST(count(*) AS BIGINT) AS n
            FROM {labels_src} l
            LEFT JOIN pair_masks p
              ON l.doc_id_1 = p.doc_id_1 AND l.doc_id_2 = p.doc_id_2
            GROUP BY 1
        ),
        subsets AS (
            SELECT CAST(s AS BIGINT) AS subset
            FROM range(1, {1 << k}) t(s)
        ),
        p AS (
            SELECT subset,
                   coalesce(sum(CASE WHEN (h.mask & s.subset) <> 0
                                THEN h.n END), 0) AS n_pairs
            FROM subsets s CROSS JOIN hist h GROUP BY 1
        ),
        t AS (
            SELECT subset,
                   coalesce(sum(CASE WHEN (h.mask & s.subset) <> 0
                                THEN h.n END), 0) AS n_true,
                   CAST(sum(h.n) AS BIGINT) AS total_true
            FROM subsets s CROSS JOIN true_hist h GROUP BY 1
        ),
        scored AS (
            SELECT p.subset,
                   concat_ws(',', {fam_names}) AS families,
                   CAST({n_fams} AS INT) AS n_families,
                   p.n_pairs, t.n_true, t.total_true,
                   (CAST(t.n_true AS DOUBLE) / t.total_true
                       >= {float(target_recall)!r}) AS meets_target,
                   CASE WHEN CAST(t.n_true AS DOUBLE) / t.total_true
                             >= {float(target_recall)!r}
                        THEN 0
                        ELSE -t.n_true
                   END AS _k2
            FROM p JOIN t USING (subset)
        )
        SELECT subset, families, n_families, n_pairs, n_true,
               total_true, meets_target,
               (row_number() OVER (
                   ORDER BY meets_target DESC, _k2 ASC,
                            n_pairs ASC, subset ASC) = 1) AS chosen
        FROM scored
    """


def capture_recapture_estimate(
    keys: DataFrame,
    matched_pairs: DataFrame,
    family_a: str,
    family_b: str,
    pin: bool = True,
) -> DataFrame:
    """UNSUPERVISED match-recall estimation by capture-recapture
    (Chapman's bias-corrected Lincoln-Petersen estimator, the
    dual-system estimation used for census coverage): treat two
    blocking families as independent "captures" of the true match
    population — matches found by A, by B, and by both give
    ``est_total = (n_a+1)(n_b+1)/(n_both+1) - 1``, and with it an
    estimated recall for each family and their union, WITHOUT labeled
    data.  The production question this answers: "we found 2.1M
    matches — how many are we missing?"  Validity rests on the
    independence assumption (families keyed on unrelated fields —
    phone vs zip, not name-prefix vs name-soundex); correlated
    families bias est_total LOW, so pick the two most orthogonal
    families you run.

    Input: ``keys(doc_id, block_key)`` (family = prefix before ':'),
    ``matched_pairs(doc_id_1, doc_id_2)`` — the RULE-PASSING match
    set, so the estimate targets true-match recall, not candidate
    recall.  Output: ONE row — ``(n_a, n_b, n_both, n_union,
    est_total, est_recall_a, est_recall_b, est_recall_union)``.

    Scale shape: two per-family pair joins (the same capped key join
    the candidate stage runs) semi-restricted to the match set, one
    pair-keyed outer join for the flags, one scalar aggregate.
    """
    from .dedup import _pin

    fam = F.substring_index(F.col("block_key"), ":", 1)
    m = _pin(
        matched_pairs.select("doc_id_1", "doc_id_2").dropDuplicates(
            ["doc_id_1", "doc_id_2"]
        ),
        pin,
    )

    def fam_matched(f: str) -> DataFrame:
        k = keys.where(fam == f)
        a, b = k.alias("a"), k.alias("b")
        return (
            a.join(b, "block_key")
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_id_1"),
                F.col("b.doc_id").alias("doc_id_2"),
            )
            .dropDuplicates(["doc_id_1", "doc_id_2"])
            .join(m, ["doc_id_1", "doc_id_2"], "left_semi")
            .withColumn("_hit", F.lit(1))
        )
    fa = fam_matched(family_a).withColumnRenamed("_hit", "_a")
    fb = fam_matched(family_b).withColumnRenamed("_hit", "_b")
    flags = fa.join(fb, ["doc_id_1", "doc_id_2"], "full").select(
        F.coalesce("_a", F.lit(0)).alias("a"),
        F.coalesce("_b", F.lit(0)).alias("b"),
    )
    agg = flags.agg(
        F.sum("a").alias("n_a"),
        F.sum("b").alias("n_b"),
        F.sum(F.col("a") * F.col("b")).alias("n_both"),
        F.count("*").alias("n_union"),
    )
    est = (
        (F.col("n_a") + 1).cast("double")
        * (F.col("n_b") + 1).cast("double")
        / (F.col("n_both") + 1).cast("double")
        - 1.0
    )
    return agg.select(
        "n_a",
        "n_b",
        "n_both",
        "n_union",
        F.round(est, 6).alias("est_total"),
        F.round(F.col("n_a") / est, 6).alias("est_recall_a"),
        F.round(F.col("n_b") / est, 6).alias("est_recall_b"),
        F.round(F.col("n_union") / est, 6).alias("est_recall_union"),
    )


def block_filtering(
    keys: DataFrame,
    r: int = 2,
    pin: bool = True,
) -> DataFrame:
    """Block Filtering (Papadakis et al., "Meta-Blocking: Taking
    Entity Resolution to the Next Level" family; the pre-meta-blocking
    step of JedAI): keep each doc only in its ``r`` most SELECTIVE
    blocks (smallest census count, ties -> block_key asc).  A doc in a
    mega-block contributes pairs there only if it has no smaller home,
    so pair volume drops superlinearly while recall stays near-full —
    the per-DOC complement of the per-BLOCK census tiers (cap/salt/
    drop act on whole blocks; this budgets each doc's key fan-out).

    Input/output: ``(doc_id, block_key)`` -> the filtered subset.

    Scale shape: one map-combinable census groupBy + one broadcast-able
    census join + one per-doc window bounded by the doc's key count
    (a handful of families, never corpus-sized frames).
    """
    from pyspark.sql import Window

    from .dedup import _pin

    census = keys.groupBy("block_key").agg(
        F.count("*").alias("_bsize")
    )
    joined = _pin(keys.join(census, "block_key"), pin)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("_bsize").asc(), F.col("block_key").asc()
    )
    return (
        joined.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= r)
        .select("doc_id", "block_key")
    )


def sql_block_filtering(keys_src: str = "keys_capped", r: int = 2) -> str:
    """DuckDB twin of :func:`block_filtering` (same census, same
    deterministic rank)."""
    return f"""
        bf_census AS (
            SELECT block_key, count(*) AS _bsize
            FROM {keys_src} GROUP BY 1
        ),
        bf_keys AS (
            SELECT k.doc_id, k.block_key
            FROM {keys_src} k JOIN bf_census c USING (block_key)
            QUALIFY row_number() OVER (
                PARTITION BY k.doc_id
                ORDER BY c._bsize ASC, k.block_key ASC) <= {r}
        )
    """


def qgram_block_keys(
    records: DataFrame,
    field: str = "name",
    q: int = 5,
    min_df: int = 2,
    max_df: int = 50,
    prefix: str = "qg:",
) -> DataFrame:
    """Character q-gram blocking (Christen 2012 §4.4 — the remaining
    member of the canonical family roster: standard / SN / q-gram /
    suffix / canopy, all now implemented): every length-``q`` window
    of the compacted field value is a candidate block key, so two
    values agreeing on ANY q consecutive characters — typos at
    arbitrary positions, mid-string insertions — share a block even
    when prefix, suffix, and token keys all differ.

    Same df-pruned pre-bounded guarantee as suffix blocking: keys kept
    only at document frequency in [min_df, max_df], so every emitted
    block holds at most ``max_df`` docs BY CONSTRUCTION (no cap/salt
    tier needed).  Unlike suffixes, one value's q-grams can repeat
    ("banana" -> "ana" twice), so keys are deduped per doc before the
    census.

    Scale shape: one narrow explode (L - q + 1 windows per value) +
    one per-doc key dedup, one map-combinable df census, one left-semi
    join back on the gram — all native expressions; output follows the
    (doc_id, block_key) contract so census/candidate_pairs/salting
    compose unchanged.
    """
    compact = F.lower(
        F.regexp_replace(F.coalesce(F.col(field), F.lit("")), " ", "")
    )
    grams = (
        records.select("doc_id", compact.alias("_v"))
        .where(F.length("_v") >= F.lit(q))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(_v) - {q} + 1),"
                    f" i -> substring(_v, i, {q}))"
                )
            ).alias("gram"),
        )
        .dropDuplicates(["doc_id", "gram"])
    )
    selective = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .where((F.col("df") >= min_df) & (F.col("df") <= max_df))
        .select("gram")
    )
    return grams.join(selective, "gram", "left_semi").select(
        "doc_id", F.concat(F.lit(prefix), F.col("gram")).alias("block_key")
    )


def sql_qgram_block_keys(
    norm_table: str = "norm",
    field: str = "name",
    q: int = 5,
    min_df: int = 2,
    max_df: int = 50,
    prefix: str = "qg:",
) -> str:
    """DuckDB twin of :func:`qgram_block_keys` — CTE tail defining
    ``qgkeys(doc_id, block_key)``."""
    compact = f"lower(replace(coalesce(\"{field}\", ''), ' ', ''))"
    return f"""grams AS MATERIALIZED (
            SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, length(_v) - {q} + 2),
                           i -> substr(_v, CAST(i AS INT), {q}))) AS gram
                FROM (SELECT doc_id, {compact} AS _v FROM {norm_table})
                WHERE length(_v) >= {q}
            )
        ),
        gsel AS (
            SELECT gram FROM grams
            GROUP BY gram
            HAVING count(*) BETWEEN {min_df} AND {max_df}
        ),
        qgkeys AS (
            SELECT doc_id, '{prefix}' || gram AS block_key FROM grams
            WHERE gram IN (SELECT gram FROM gsel)
        )"""


def stringmap_block_keys(
    records: DataFrame,
    field: str = "name",
    n_pivots: int = 4,
    cell: float = 2.0,
    min_df: int = 2,
    max_df: int = 50,
    prefix: str = "sm:",
) -> DataFrame:
    """String-map blocking (Jin, Li & Mehrotra DASFAA'03; the
    FastMap-flavored member of Christen 2012's family roster — with
    standard / SN / phonetic / token / suffix / q-gram / canopy now
    all implemented): embed each value by its EDIT DISTANCES to a
    fixed pivot set and key on the quantized coordinate vector, so
    values within small edit distance of each other land in the same
    (or an adjacent) grid cell even when they share no prefix, suffix,
    q-gram window, or token — the triangle inequality bounds how far
    a small edit can move any coordinate (|lev(a,p) - lev(b,p)| <=
    lev(a,b)).

    Deterministic pivots: the ``n_pivots`` lowest-doc_id non-empty
    values (the fixed_ivf_index/pq-codebook trick — engine-portable,
    no RNG; production would pick spread pivots, which drops in).
    One grid key per doc; df pruning [min_df, max_df] then bounds
    every emitted block by construction, mega-cells dropping out like
    every df-pruned family (recall backstop: the other key families
    still cover those docs).

    Scale shape: one broadcast of n_pivots strings, one native
    levenshtein projection per pivot (JVM codegen), one per-doc
    groupBy to assemble the coordinate key, one df census + semi
    join.  Output follows the (doc_id, block_key) contract.
    """
    from pyspark.sql import Window

    compact = F.lower(
        F.regexp_replace(F.coalesce(F.col(field), F.lit("")), " ", "")
    )
    base = records.select("doc_id", compact.alias("_v")).where(
        F.length("_v") > 0
    )
    pivots = (
        base.orderBy(F.col("doc_id").asc())
        .limit(n_pivots)
        .withColumn(
            "pivot_id",
            F.row_number().over(Window.orderBy(F.col("doc_id").asc())) - 1,
        )
        .select("pivot_id", F.col("_v").alias("_pv"))
    )
    coords = base.crossJoin(F.broadcast(pivots)).select(
        "doc_id",
        "pivot_id",
        F.floor(F.levenshtein("_v", "_pv") / F.lit(float(cell)))
        .cast("int")
        .alias("_b"),
    )
    key = coords.groupBy("doc_id").agg(
        F.concat_ws(
            "_",
            *[
                F.max(F.when(F.col("pivot_id") == i, F.col("_b")))
                for i in range(n_pivots)
            ],
        ).alias("cellkey")
    )
    selective = (
        key.groupBy("cellkey")
        .agg(F.count("*").alias("df"))
        .where((F.col("df") >= min_df) & (F.col("df") <= max_df))
        .select("cellkey")
    )
    return key.join(selective, "cellkey", "left_semi").select(
        "doc_id",
        F.concat(F.lit(prefix), F.col("cellkey")).alias("block_key"),
    )


def sql_stringmap_block_keys(
    norm_table: str = "norm",
    field: str = "name",
    n_pivots: int = 4,
    cell: float = 2.0,
    min_df: int = 2,
    max_df: int = 50,
    prefix: str = "sm:",
) -> str:
    """DuckDB twin of :func:`stringmap_block_keys` — CTE tail defining
    ``smkeys(doc_id, block_key)``."""
    compact = f"lower(replace(coalesce(\"{field}\", ''), ' ', ''))"
    arms = ", ".join(
        f"max(CASE WHEN pivot_id = {i} THEN _b END)"
        for i in range(n_pivots)
    )
    return f"""smbase AS (
            SELECT doc_id, {compact} AS _v FROM {norm_table}
            WHERE length({compact}) > 0
        ),
        smpivots AS (
            SELECT row_number() OVER (ORDER BY doc_id ASC) - 1
                       AS pivot_id,
                   _v AS _pv
            FROM (SELECT doc_id, _v FROM smbase
                  ORDER BY doc_id ASC LIMIT {n_pivots})
        ),
        smcoords AS (
            SELECT b.doc_id, p.pivot_id,
                   CAST(floor(levenshtein(b._v, p._pv) / {float(cell)!r})
                        AS INT) AS _b
            FROM smbase b CROSS JOIN smpivots p
        ),
        smkey AS MATERIALIZED (
            SELECT doc_id, concat_ws('_', {arms}) AS cellkey
            FROM smcoords GROUP BY doc_id
        ),
        smsel AS (
            SELECT cellkey FROM smkey
            GROUP BY cellkey HAVING count(*) BETWEEN {min_df} AND {max_df}
        ),
        smkeys AS (
            SELECT doc_id, '{prefix}' || cellkey AS block_key FROM smkey
            WHERE cellkey IN (SELECT cellkey FROM smsel)
        )"""


def wnp_prune(cbs: DataFrame, weight_col: str = "n_shared_blocks") -> DataFrame:
    """Weighted Node Pruning (Papadakis et al., TKDE'14) over a
    CBS-weighted pair graph ``cbs(doc_id_1, doc_id_2, weight_col)``:
    keep a pair iff its weight reaches the AVERAGE weight of either
    endpoint's neighborhood.  The per-node adaptive complement of the
    global-threshold WEP cut — a sparse record whose only evidence is
    weight 1 keeps its pairs (its avg is 1), a dense record sheds its
    weak tail.

    Scale shape: one narrow symmetrize + node-keyed groupBy for the
    averages, two joins back onto the pair set keyed on the
    endpoints — no pair-level blowup."""
    sym = cbs.select(
        F.col("doc_id_1").alias("node"), weight_col
    ).unionByName(cbs.select(F.col("doc_id_2").alias("node"), weight_col))
    node_avg = sym.groupBy("node").agg(F.avg(weight_col).alias("_avg_w"))
    return (
        cbs.join(
            node_avg.select(
                F.col("node").alias("doc_id_1"), F.col("_avg_w").alias("_a1")
            ),
            "doc_id_1",
        )
        .join(
            node_avg.select(
                F.col("node").alias("doc_id_2"), F.col("_avg_w").alias("_a2")
            ),
            "doc_id_2",
        )
        .where(
            (F.col(weight_col) >= F.col("_a1"))
            | (F.col(weight_col) >= F.col("_a2"))
        )
        .select("doc_id_1", "doc_id_2", weight_col)
    )

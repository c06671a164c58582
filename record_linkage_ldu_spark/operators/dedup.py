"""Corpus deduplication operators for training-data pipelines:
exact, MinHash+LSH, n-gram Jaccard, SimHash.

Scale design:
  * exact dedup = one hash-groupBy (map-side combinable).
  * MinHash/LSH = narrow signature projection + explode(bands) +
    band-key self-join — the published shingle->minhash->band->bucket
    pipeline; candidate verification by exact Jaccard only within
    buckets (never all-pairs).
  * hash functions are md5-based so the DuckDB oracle reproduces them
    bit-for-bit (Spark's xxhash64/hash have no DuckDB twin).
  * SimHash = one vectorized pandas UDF emitting a 64-bit sketch;
    near-dup = hamming distance via native bit ops.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    char_ngrams,
    shingles_of_tokens,
    sql_char_ngrams,
    sql_shingles,
    sql_tokens,
    sql_winnow_fingerprint_cte,
    tokens,
)
from .blocking import BlockingConfig, block_census, candidate_pairs, tiered_pairs


def capped_bucket_pairs(
    keys: DataFrame,
    max_bucket_size: int = 1000,
    salt_buckets: int = 8,
    drop_factor: int = 16,
    unique_key: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Three-tier candidate generation over a generic ``(doc_id,
    block_key)`` bucket table — the linkage blocking layer's
    census/cap/salt scheme (``blocking.tiered_pairs``) applied to dedup
    buckets (MinHash bands, SimHash bands, metadata blocks).

    Why: a single boilerplate bucket (templated/empty docs sharing one
    band key) turns the bucket self-join quadratic IN ONE JOIN KEY at
    corpus scale.  Tiering bounds it: buckets up to ``max_bucket_size``
    pair through the plain equi-join; buckets up to ``drop_factor``
    times that go through the lossless triangle-salted join (bounded
    per-task width, no pairs lost); anything larger is dropped and
    reported in the returned census (degenerate content — empty or
    templated documents).  Returns (pairs(doc_id_1 < doc_id_2),
    dropped_census(block_key, block_size)).

    ``unique_key=True`` declares that every doc emits exactly ONE key
    (single-probe sign-LSH buckets): a pair then exists in exactly one
    block/tier, so the final pair-dedup shuffle is skipped — it would
    reshuffle the full pair set to remove nothing.
    """
    cfg = BlockingConfig(
        max_block_size=max_bucket_size,
        salt_buckets=salt_buckets,
        salt_drop_factor=drop_factor,
    )
    pairs, dropped = tiered_pairs(keys, cfg)
    if not unique_key:
        pairs = pairs.dropDuplicates(["doc_id_1", "doc_id_2"])
    return pairs, dropped


def _pin(df: DataFrame, enabled: bool) -> DataFrame:
    """Materialize a small derived table (sketch / signature / gram
    index) ONCE.  Every downstream reference — census, plain and salt
    join tiers, both verify sides — otherwise re-executes the deriving
    subplan: exchange reuse only dedups shuffle subtrees, and these
    are unshuffled scan+project chains, so the Arrow/md5 sketch UDFs
    measured up to ~7 executions per query.  At production scale this
    table IS the persisted index (write it to Parquet/Iceberg and read
    it back — same contract as save_ivf_index); on one box
    ``localCheckpoint`` is the analogue.  Pass ``pin=False`` from
    pipelines that persist the table themselves."""
    return df.localCheckpoint(eager=True) if enabled else df


def ensure_width(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the input has fewer partitions
    than cores.

    The quadratic stages here run as BROADCAST self-joins, and a
    broadcast join's probe side keeps the INPUT partitioning — a
    corpus read as one parquet split does all its within-block pair
    work in ONE task regardless of cluster width (measured: 588k
    n-gram Jaccard probes in a single 14s task on a 32-core session).
    Web-scale inputs arrive with thousands of splits and skip this.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(2 * n)
    return df


def _shingled(
    df: DataFrame, text_col: str, id_col: str, w: int,
    out_col: str = "sh",
    tokenizer: str = "word",
) -> DataFrame:
    """(doc_id, <out_col>: array<string>) with the tokenize and
    shingle steps each behind an ``explode(array(..))`` Generate
    barrier, so neither is re-evaluated per downstream lambda element.

    ``tokenizer``: ``"word"`` (default) = distinct w-word shingles of
    the `[^a-z0-9]+`-split tokens — the Latin-text default.
    ``"char"`` = distinct w-CHARACTER n-grams (``text.char_ngrams``) —
    the script-agnostic knob for CJK/unsegmented corpora, where the
    word splitter deletes the whole text (VERDICT r4 item 6).  ``w``
    is the sketch-unit width in both modes (tokens vs characters)."""
    if tokenizer == "char":
        normed = df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.array(
                    F.trim(
                        F.regexp_replace(
                            F.lower(F.col(text_col)), "[ \t\r\n]+", " "
                        )
                    )
                )
            ).alias("_nrm"),
        )
        return normed.select(
            "doc_id",
            F.explode(
                F.array(char_ngrams(F.col("_nrm"), w, prenormalized=True))
            ).alias(out_col),
        ).where(F.size(F.col(out_col)) > 0)
    if tokenizer != "word":
        raise ValueError(f"unknown tokenizer {tokenizer!r} (word|char)")
    tokenized = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(tokens(F.col(text_col)))).alias("_toks"),
    )
    # drop docs whose sketch-unit set is EMPTY (whitespace-only text;
    # under the word tokenizer, any unsegmented non-Latin doc): an
    # all-NULL signature used to band-collide through concat_ws's
    # null-skipping into ONE degenerate bucket, and the exact verify
    # scored J(emptyset, emptyset) = 1.0 -- welding unrelated docs as
    # "duplicates" with zero content evidence (caught by the CJK knob
    # test).  No shingles => no signature => no candidates.
    return tokenized.select(
        "doc_id",
        F.explode(F.array(shingles_of_tokens(F.col("_toks"), w))).alias(out_col),
    ).where(F.size(F.col(out_col)) > 0)

# ------------------------------------------------------------------
# exact dedup
# ------------------------------------------------------------------


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical texts: (fingerprint, canonical_id,
    n_dupes).  Canonical = min id.  One shuffle (hash agg)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_docs"),
        )
        .where(F.col("n_docs") > 1)
    )


# ------------------------------------------------------------------
# MinHash + LSH
# ------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    band_size: int = 3,
    shingle_size: int = 3,
    hash_fn: str = "md5",
    tokenizer: str = "word",
) -> DataFrame:
    """(id, band_idx, band_key): one row per (doc, band).  Narrow
    projection + posexplode.  Sketch units are distinct w-word shingles
    (Broder resemblance) — unigram tokens collide massively on any
    corpus with a shared vocabulary, turning LSH candidate generation
    quadratic; 3-word shingles keep buckets sparse.

    ``hash_fn``: ``"md5"`` (default) draws each signature slot as an
    md5 over a seeded string — chosen because the DuckDB oracle
    reproduces it bit-for-bit.  ``"xxhash64"`` is the production knob:
    one 64-bit JVM hash per (seed, shingle) instead of a string-concat
    md5 (~10x cheaper per draw at corpus scale); signatures differ
    from the md5 draws but any fixed hash family gives the same
    collision statistics, so near-dup recall is equivalent (gated by
    tests/test_dedup.py).

    The whole shingles -> signature-array -> band-key-array chain is
    ONE linear expression (each intermediate referenced exactly once):
    higher-order lambdas are interpreted, not codegen'd, so Catalyst's
    project-collapse would otherwise inline the shingle construction
    into every one of the ``num_hashes`` draws (measured 6x slowdown).
    """
    n_bands = num_hashes // band_size
    # Each explode(array(..)) is a Generate node: the expression under
    # it is evaluated ONCE per row and becomes a concrete attribute, so
    # the next level's lambda reads a materialized array instead of
    # re-deriving the whole upstream chain per element.
    shingled = _shingled(
        ensure_width(df), text_col, id_col, shingle_size,
        tokenizer=tokenizer,
    )
    if hash_fn == "xxhash64":
        # sig[s] = min over shingles of xxhash64(seed=s, shingle),
        # zero-padded to fixed width so array_min's string order equals
        # numeric order (banding only needs SOME total order per slot)
        sig = F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda s: F.array_min(
                F.transform(
                    F.col("sh"),
                    lambda t: F.lpad(
                        F.conv(
                            F.hex(F.xxhash64(s.cast("string"), t)), 16, 10
                        ),
                        20,
                        "0",
                    ),
                )
            ),
        )
    elif hash_fn == "md5":
        # sig[s] = min over shingles of md5("s:" + shingle)
        sig = F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda s: F.array_min(
                F.transform(
                    F.col("sh"),
                    lambda t: F.md5(F.concat(s.cast("string"), F.lit(":"), t)),
                )
            ),
        )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r} (md5|xxhash64)")
    signed = shingled.select(
        "doc_id", F.explode(F.array(sig)).alias("sig")
    )
    # band_key[b] = md5("b|sig[b*bs]|...|sig[(b+1)*bs-1]")
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.md5(
            F.concat_ws(
                "|",
                b.cast("string"),
                F.array_join(
                    F.slice(F.col("sig"), b * band_size + 1, band_size), "|"
                ),
            )
        ),
    )
    return signed.select(
        "doc_id",
        F.posexplode(band_keys).alias("band_idx", "band_key"),
    ).select(
        "doc_id",
        F.col("band_idx").cast("int").alias("band_idx"),
        "band_key",
    )


def jaccard_col(toks_a: Column, toks_b: Column) -> Column:
    """Exact set Jaccard over token/shingle arrays (native array ops).

    Inputs are distinct-element arrays by construction (array_distinct
    / distinct shingles), so |A∪B| = |A|+|B|−|A∩B| — one hash-probe
    pass instead of intersect + union (2x on the quadratic
    within-block verify stage)."""
    inter = F.size(F.array_intersect(toks_a, toks_b)).cast("double")
    union = F.size(toks_a).cast("double") + F.size(toks_b).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(1.0))


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    band_size: int = 3,
    threshold: float = 0.7,
    shingle_size: int = 3,
    max_bucket_size: int | None = 1000,
    salt_buckets: int = 8,
    drop_factor: int = 16,
    hash_fn: str = "md5",
    with_census: bool = False,
    pin: bool = True,
    tokenizer: str = "word",
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """LSH candidates (band-key join) verified by exact shingle-set
    Jaccard >= threshold.  Returns (doc_id_1, doc_id_2, jaccard).

    Band buckets go through the census/cap/salt tiers
    (``capped_bucket_pairs``): the salt tier is lossless, so results
    are identical to the plain join unless a bucket exceeds the drop
    ceiling (``max_bucket_size * drop_factor`` docs sharing one band —
    boilerplate/empty texts whose pairs would be quadratic in a single
    join key).  ``max_bucket_size=None`` disables tiering (plain join).

    ``with_census=True`` returns (pairs, dropped_census(block_key,
    block_size)): a dropped band bucket is exactly the MOST-duplicated
    content (boilerplate/templated docs — the prime dedup target), so
    every member silently becomes ``keep=1`` downstream.  The census
    makes that a reported decision, mirroring generate_candidates'
    dropped_blocks reporting; pipelines should log/persist it.
    """
    bands = minhash_signatures(
        df, text_col, id_col, num_hashes, band_size, shingle_size,
        hash_fn=hash_fn, tokenizer=tokenizer,
    )
    keys = _pin(
        bands.select(
            "doc_id",
            F.concat_ws(
                ":", F.col("band_idx").cast("string"), "band_key"
            ).alias("block_key"),
        ),
        pin,
    )
    if max_bucket_size is None:
        cand = candidate_pairs(keys)
        dropped = df.sparkSession.createDataFrame(
            [], "block_key string, block_size long"
        )
    else:
        cand, dropped = capped_bucket_pairs(
            keys, max_bucket_size, salt_buckets, drop_factor
        )
    toks_tbl = _pin(
        _shingled(
            df, text_col, id_col, shingle_size, out_col="toks",
            tokenizer=tokenizer,
        ),
        pin,
    )
    out = (
        cand.join(
            toks_tbl.select(
                F.col("doc_id").alias("doc_id_1"), F.col("toks").alias("toks_1")
            ),
            "doc_id_1",
        )
        .join(
            toks_tbl.select(
                F.col("doc_id").alias("doc_id_2"), F.col("toks").alias("toks_2")
            ),
            "doc_id_2",
        )
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(jaccard_col(F.col("toks_1"), F.col("toks_2")), 6).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return (out, dropped) if with_census else out


def sql_minhash_near_duplicates(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    band_size: int = 3,
    threshold: float = 0.7,
    shingle_size: int = 3,
    tokenizer: str = "word",
) -> str:
    """DuckDB twin of minhash_near_duplicates (same md5 draws)."""
    if tokenizer == "char":
        toks = sql_char_ngrams("_cn_nrm", shingle_size, prenormalized=True)
    else:
        toks = sql_shingles(text_col, shingle_size)
    # MATERIALIZED tokens/sigs/bands/tok: DuckDB 1.0 inlines CTEs per
    # reference and runs no CSE across the hash lanes, so the raw
    # shingle expression would otherwise evaluate ~13x per doc and the
    # sigs subplan 4x (once per band union) — see the verify skill's
    # CTE-inlining note
    sig = [
        f"list_min(list_transform(_t, t -> md5('{s}:' || t)))"
        for s in range(num_hashes)
    ]
    n_bands = num_hashes // band_size
    band_exprs = ", ".join(
        "md5("
        + " || '|' || ".join([f"'{b}'"] + sig[b * band_size : (b + 1) * band_size])
        + f") AS band{b}"
        for b in range(n_bands)
    )
    unions = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, band{b} AS band_key FROM sigs"
        for b in range(n_bands)
    )
    src_table = table
    if tokenizer == "char":
        src_table = (
            f"(SELECT {id_col}, trim(regexp_replace(lower({text_col}), "
            f"'[ \\t\\r\\n]+', ' ', 'g')) AS _cn_nrm FROM {table})"
        )
    return f"""
        WITH _shingled AS MATERIALIZED (
            SELECT * FROM (
                SELECT {id_col} AS doc_id, {toks} AS _t FROM {src_table}
            ) WHERE len(_t) > 0
        ),
        sigs AS MATERIALIZED (
            SELECT doc_id, {band_exprs} FROM _shingled
        ),
        bands AS MATERIALIZED ({unions}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ),
        tok AS MATERIALIZED (
            SELECT doc_id, _t AS toks FROM _shingled
        )
        SELECT c.doc_id_1, c.doc_id_2,
               round(
                 CASE WHEN len(t1.toks) + len(t2.toks)
                           - len(list_intersect(t1.toks, t2.toks)) > 0
                      THEN CAST(len(list_intersect(t1.toks, t2.toks)) AS DOUBLE)
                           / (len(t1.toks) + len(t2.toks)
                              - len(list_intersect(t1.toks, t2.toks)))
                      ELSE 1.0 END, 6) AS jaccard
        FROM cand c
        JOIN tok t1 ON c.doc_id_1 = t1.doc_id
        JOIN tok t2 ON c.doc_id_2 = t2.doc_id
        WHERE jaccard >= {threshold}
    """


def capped_bucket_pairs_cross(
    keys_left: DataFrame,
    keys_right: DataFrame,
    max_bucket_size: int = 1000,
    salt_buckets: int = 8,
    drop_factor: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Cross-dataset twin of ``capped_bucket_pairs``: (left_id,
    right_id) pairs within shared buckets, three-tiered on the
    COMBINED block census (left + right occupancy — a block's join
    width is |L_b| x |R_b|, and either side can be the skewed one).

    Blocks up to ``max_bucket_size`` pair through the plain equi-join;
    hot blocks up to ``drop_factor`` times that go through the
    lossless replicate-left salted join
    (``salted_candidate_pairs_cross`` — put the smaller corpus on the
    left); larger blocks are dropped and reported in the returned
    census.  One pair-dedup shuffle covers multi-key and cross-tier
    duplicates.  Returns (pairs(doc_id_1=left, doc_id_2=right),
    dropped_census)."""
    cfg = BlockingConfig(
        max_block_size=max_bucket_size,
        salt_buckets=salt_buckets,
        salt_drop_factor=drop_factor,
    )
    census = _pin(block_census(keys_left.unionByName(keys_right)), True)
    pairs, dropped = tiered_pairs(
        keys_left, cfg, keys_right=keys_right, census=census
    )
    return pairs.dropDuplicates(["doc_id_1", "doc_id_2"]), dropped


def minhash_cross_near_duplicates(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    band_size: int = 3,
    threshold: float = 0.7,
    shingle_size: int = 3,
    max_bucket_size: int | None = 1000,
    salt_buckets: int = 8,
    drop_factor: int = 16,
    hash_fn: str = "md5",
    with_census: bool = False,
    pin: bool = True,
    tokenizer: str = "word",
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Cross-corpus MinHash near-dup join — the incremental-ingest op
    (dedup a new crawl AGAINST the existing corpus): (left_id,
    right_id, jaccard) for band-colliding pairs with exact shingle
    Jaccard >= threshold.  Ids may overlap between corpora (sides are
    kept distinct throughout — no union of id spaces).

    Same scale shape as the self variant: band signatures are built
    per side (each persists as that corpus's LSH index at production
    scale), candidates route through the cross census/cap/salt tiers
    (``capped_bucket_pairs_cross`` — replicate-left salt; pass the
    smaller/new corpus as ``left``), and only candidates are verified.
    The verified cross output equals the self-join output filtered to
    cross pairs (pytest-gated), so recall properties carry over."""
    bands_l = minhash_signatures(
        left, text_col, id_col, num_hashes, band_size, shingle_size,
        hash_fn=hash_fn,
    )
    bands_r = minhash_signatures(
        right, text_col, id_col, num_hashes, band_size, shingle_size,
        hash_fn=hash_fn,
    )

    def _keys(bands):
        return bands.select(
            "doc_id",
            F.concat_ws(
                ":", F.col("band_idx").cast("string"), "band_key"
            ).alias("block_key"),
        )

    keys_l = _pin(_keys(bands_l), pin)
    keys_r = _pin(_keys(bands_r), pin)
    if max_bucket_size is None:
        cand = (
            keys_l.withColumnRenamed("doc_id", "doc_id_1")
            .join(
                keys_r.withColumnRenamed("doc_id", "doc_id_2"), "block_key"
            )
            .select("doc_id_1", "doc_id_2")
            .dropDuplicates(["doc_id_1", "doc_id_2"])
        )
        dropped = left.sparkSession.createDataFrame(
            [], "block_key string, block_size long"
        )
    else:
        cand, dropped = capped_bucket_pairs_cross(
            keys_l, keys_r, max_bucket_size, salt_buckets, drop_factor
        )
    toks_l = _pin(
        _shingled(left, text_col, id_col, shingle_size, out_col="toks"), pin
    )
    toks_r = _pin(
        _shingled(right, text_col, id_col, shingle_size, out_col="toks"), pin
    )
    out = (
        cand.join(
            toks_l.select(
                F.col("doc_id").alias("doc_id_1"), F.col("toks").alias("toks_1")
            ),
            "doc_id_1",
        )
        .join(
            toks_r.select(
                F.col("doc_id").alias("doc_id_2"), F.col("toks").alias("toks_2")
            ),
            "doc_id_2",
        )
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(jaccard_col(F.col("toks_1"), F.col("toks_2")), 6).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return (out, dropped) if with_census else out


def sql_minhash_cross_near_duplicates(
    left_table: str,
    right_table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    band_size: int = 3,
    threshold: float = 0.7,
    shingle_size: int = 3,
) -> str:
    """DuckDB twin of minhash_cross_near_duplicates (same md5 draws;
    table args may be parenthesized subqueries)."""
    toks = sql_shingles(text_col, shingle_size)
    # MATERIALIZED per-side shingle/sig/band CTEs — same DuckDB
    # CTE-inlining/no-CSE workaround as sql_minhash_near_duplicates
    sig = [
        f"list_min(list_transform(_t, t -> md5('{s}:' || t)))"
        for s in range(num_hashes)
    ]
    n_bands = num_hashes // band_size
    band_exprs = ", ".join(
        "md5("
        + " || '|' || ".join([f"'{b}'"] + sig[b * band_size : (b + 1) * band_size])
        + f") AS band{b}"
        for b in range(n_bands)
    )

    def _bands(side, table):
        unions = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_idx, band{b} AS band_key "
            f"FROM sigs_{side}"
            for b in range(n_bands)
        )
        return (
            f"shingled_{side} AS MATERIALIZED "
            f"(SELECT * FROM (SELECT {id_col} AS doc_id, {toks} AS _t "
            f"FROM {table} AS t_{side}) WHERE len(_t) > 0), "
            f"sigs_{side} AS MATERIALIZED "
            f"(SELECT doc_id, {band_exprs} FROM shingled_{side}), "
            f"bands_{side} AS MATERIALIZED ({unions})"
        )

    return f"""
        WITH {_bands("l", left_table)},
        {_bands("r", right_table)},
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
            FROM bands_l a JOIN bands_r b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        ),
        tok_l AS (SELECT doc_id, _t AS toks FROM shingled_l),
        tok_r AS (SELECT doc_id, _t AS toks FROM shingled_r)
        SELECT c.doc_id_1, c.doc_id_2,
               round(
                 CASE WHEN len(t1.toks) + len(t2.toks)
                           - len(list_intersect(t1.toks, t2.toks)) > 0
                      THEN CAST(len(list_intersect(t1.toks, t2.toks)) AS DOUBLE)
                           / (len(t1.toks) + len(t2.toks)
                              - len(list_intersect(t1.toks, t2.toks)))
                      ELSE 1.0 END, 6) AS jaccard
        FROM cand c
        JOIN tok_l t1 ON c.doc_id_1 = t1.doc_id
        JOIN tok_r t2 ON c.doc_id_2 = t2.doc_id
        WHERE jaccard >= {threshold}
    """


def keep_list_from_pairs(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Generic canonicalization step shared by every near-dup family:
    pairs(doc_id_1, doc_id_2) + the full id set -> (doc_id,
    canonical_id, keep).  Connected components over the pair graph
    (similarity is not transitive, so keep/drop is a component
    decision), canonical = min id, keep = 1 exactly for canonicals;
    singletons keep themselves."""
    from .cc import connected_components

    clusters = connected_components(
        pairs.select("doc_id_1", "doc_id_2"),
        vertices=ids.select(F.col(id_col).alias("doc_id")),
    )
    return clusters.select(
        "doc_id",
        F.col("cluster_id").alias("canonical_id"),
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("keep"),
    )


def near_duplicate_keep_list(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    with_census: bool = False,
    **minhash_kwargs,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Corpus-level dedup DECISION: (doc_id, canonical_id, keep).

    Near-duplicate pairs are not what a training-data pipeline emits —
    it emits the corpus minus the duplicates.  Pairwise similarity is
    not transitive, so keep/drop must be decided per connected
    component of the verified pair graph (the standard shingle-cluster
    step of Broder's scheme): canonical = min doc_id per component,
    ``keep = 1`` exactly for canonicals (every singleton keeps
    itself).  Filtering the corpus is then one broadcast-able
    semi-join against ``keep = 1``.

    Scale shape: MinHash-LSH pairs (bucketed, capped) -> connected
    components (driver union-find under the gate, alternating-star
    beyond — the dup-pair graph is ~orders smaller than the corpus)
    -> one join back.  No all-pairs stage anywhere.

    ``with_census=True`` additionally returns the dropped-bucket
    census: members of a dropped mega-bucket lose their pairs and thus
    come out ``keep=1`` — exactly the most-duplicated content — so a
    pipeline running with tiering on (the default) should check the
    census is empty or route the dropped keys through a coarser
    dedup (e.g. exact fingerprint) instead of trusting keep=1.
    """
    res = minhash_near_duplicates(
        df, text_col, id_col, threshold=threshold, with_census=True,
        **minhash_kwargs,
    )
    pairs, dropped = res
    keep = keep_list_from_pairs(pairs, df, id_col)
    return (keep, dropped) if with_census else keep


# ------------------------------------------------------------------
# n-gram Jaccard near-dup (blocked, no LSH — small-block path)
# ------------------------------------------------------------------


def _metadata_blocked_gram_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: tuple[str, ...],
    n: int,
    max_block_size: int | None,
    salt_buckets: int,
    drop_factor: int,
    pin: bool,
) -> DataFrame:
    """Shared candidate stage for the set-measure dedup family
    (:func:`ngram_jaccard_pairs`, :func:`containment_pairs`): word
    n-gram sets per doc, metadata-blocked within-block pairs, census/
    cap/salt tiering for hot blocks.  Returns
    ``(doc_id_1, doc_id_2, g1, g2)`` with both gram arrays attached;
    callers project their measure and threshold on top (the extra
    select collapses into the join projection — no added shuffle).
    """
    tokenized = ensure_width(df).select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in block_cols],
        F.explode(F.array(tokens(F.col(text_col)))).alias("_toks"),
    )
    toks = F.col("_toks")
    if n > 1:
        grams = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(
                    " ", *[F.try_element_at(toks, i + j + 1) for j in range(n)]
                ),
            )
        )
        grams = F.when(F.size(toks) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )
    else:
        grams = F.array_distinct(toks)
    # Generate barrier: without it the streamed side of the (broadcast)
    # self-join keeps `grams` as an unevaluated projection, and the
    # tokenize+distinct chain re-runs once per MATCHED PAIR instead of
    # once per doc (measured ~12s -> ~2s on 450k within-block pairs).
    # Empty gram sets are dropped (r5, same weld class as the minhash
    # fix): two zero-gram docs in one metadata block would otherwise
    # verify at J(emptyset, emptyset) = 1.0 / containment 1.0 with
    # zero content evidence.  No units => no candidates.
    base = _pin(
        tokenized.select(
            "doc_id",
            *[F.col(c) for c in block_cols],
            F.explode(F.array(grams)).alias("grams"),
        ).where(F.size(F.col("grams")) > 0),
        pin,
    )
    if max_block_size is None:
        a = base.alias("a")
        b = base.alias("b")
        return (
            a.join(b, list(block_cols))
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_id_1"),
                F.col("b.doc_id").alias("doc_id_2"),
                F.col("a.grams").alias("g1"),
                F.col("b.grams").alias("g2"),
            )
        )

    from .blocking import block_census, salted_candidate_pairs

    # equi-joins drop null keys, so a row with any null block col never
    # pairs — make the composite key preserve that before tiering
    not_null = F.lit(True)
    for c in block_cols:
        not_null = not_null & F.col(c).isNotNull()
    keyed = base.where(not_null).withColumn(
        "block_key",
        F.concat_ws(
            "\x1f", *[F.col(c).cast("string") for c in block_cols]
        ),
    )
    census = block_census(keyed.select("doc_id", "block_key"))
    over_cap = census.where(F.col("block_size") > max_block_size)
    hot = census.where(
        (F.col("block_size") > max_block_size)
        & (F.col("block_size") <= max_block_size * drop_factor)
    )
    kept = keyed.join(
        F.broadcast(over_cap.select("block_key")), "block_key", "left_anti"
    )
    a = kept.alias("a")
    b = kept.alias("b")
    plain = (
        a.join(b, "block_key")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
            F.col("a.grams").alias("g1"),
            F.col("b.grams").alias("g2"),
        )
    )
    hot_keys = keyed.join(
        F.broadcast(hot.select("block_key")), "block_key"
    ).select("doc_id", "block_key")
    salted = salted_candidate_pairs(
        hot_keys, salt=salt_buckets, dedup=False
    )
    gram_tbl = keyed.select("doc_id", "grams")
    hot_pairs = (
        salted.join(
            gram_tbl.select(
                F.col("doc_id").alias("doc_id_1"),
                F.col("grams").alias("g1"),
            ),
            "doc_id_1",
        )
        .join(
            gram_tbl.select(
                F.col("doc_id").alias("doc_id_2"),
                F.col("grams").alias("g2"),
            ),
            "doc_id_2",
        )
        .select("doc_id_1", "doc_id_2", "g1", "g2")
    )
    return plain.unionByName(hot_pairs)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
    n: int = 2,
    threshold: float = 0.5,
    max_block_size: int | None = 1000,
    salt_buckets: int = 8,
    drop_factor: int = 16,
    pin: bool = True,
) -> DataFrame:
    """Word n-gram Jaccard over within-block pairs (block on cheap
    metadata, e.g. language + length bucket).

    A metadata block is one join key, so a dominant (lang, len_bucket)
    cell goes quadratic in a single task at corpus scale — the same
    failure mode as a hot linkage block.  Tiering bounds it: blocks up
    to ``max_block_size`` keep the cheap gram-carrying equi-join; hot
    blocks up to ``drop_factor`` times that pair through the lossless
    triangle-salted join (gram arrays re-attached per side); larger
    blocks are dropped (use the MinHash path for such corpora).  A pair
    lives in exactly one block (block cols are per-doc attributes), so
    the tiers need no cross-tier dedup.  ``max_block_size=None``
    disables tiering.
    """
    pairs = _metadata_blocked_gram_pairs(
        df,
        text_col,
        id_col,
        block_cols,
        n,
        max_block_size,
        salt_buckets,
        drop_factor,
        pin,
    )
    return pairs.select(
        "doc_id_1",
        "doc_id_2",
        F.round(jaccard_col(F.col("g1"), F.col("g2")), 6).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
    n: int = 2,
    threshold: float = 0.8,
    max_block_size: int | None = 1000,
    salt_buckets: int = 8,
    drop_factor: int = 16,
    pin: bool = True,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT over within-block pairs — the
    sub-document-duplication detector Jaccard structurally misses.

    Broder's containment C(A,B) = |grams(A) ∩ grams(B)| / |grams(A)|:
    when doc A is quoted wholesale inside a much longer doc B,
    C(A,B) ≈ 1 while Jaccard ≈ |A|/|B| ≈ 0 — a resemblance threshold
    never fires however low it's set without drowning in noise.  The
    training-data failure mode this catches is boilerplate-wrapped
    reposts and quote-inflated pages (the reference has no analogue;
    first-class per the LLM-pipeline brief).

    Emits one row per unordered pair: ``(doc_id_1, doc_id_2,
    containment_1, containment_2, overlap)`` where ``containment_1`` =
    C(doc_1, doc_2), ``containment_2`` = C(doc_2, doc_1), ``overlap`` =
    max of the two (the overlap coefficient: |∩| / min(|A|, |B|)),
    thresholded on ``overlap``.  An empty gram set counts as contained
    (1.0), mirroring :func:`jaccard_col`'s empty-empty convention.

    Candidate generation, tiering, and skew handling are shared with
    :func:`ngram_jaccard_pairs` via the same census/cap/salt stage —
    no new shuffle shape.
    """
    pairs = _metadata_blocked_gram_pairs(
        df,
        text_col,
        id_col,
        block_cols,
        n,
        max_block_size,
        salt_buckets,
        drop_factor,
        pin,
    )
    inter = F.size(F.array_intersect(F.col("g1"), F.col("g2")))
    c1 = F.when(
        F.size(F.col("g1")) > 0,
        inter.cast("double") / F.size(F.col("g1")),
    ).otherwise(F.lit(1.0))
    c2 = F.when(
        F.size(F.col("g2")) > 0,
        inter.cast("double") / F.size(F.col("g2")),
    ).otherwise(F.lit(1.0))
    return (
        pairs.select(
            "doc_id_1",
            "doc_id_2",
            F.round(c1, 6).alias("containment_1"),
            F.round(c2, 6).alias("containment_2"),
        )
        .withColumn(
            "overlap", F.greatest(F.col("containment_1"), F.col("containment_2"))
        )
        .where(F.col("overlap") >= threshold)
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    pin: bool = True,
    unit: str = "token",
) -> DataFrame:
    """Prefix-filtered exact set-similarity self-join (Bayardo et al.
    "Scaling Up All Pairs Similarity Search" WWW'07 / the PPJoin
    family, Xiao et al. WWW'08): all pairs of documents with word-set
    Jaccard >= ``threshold``, EXACTLY, without blocking metadata and
    without enumerating within-block pair sets.

    The filter: order every document's distinct tokens by the GLOBAL
    canonical order (document frequency asc, token asc — rarest
    first); a pair with Jaccard >= t MUST share at least one token
    within each side's first ``|x| - ceil(t*|x|) + 1`` tokens, so only
    docs sharing a PREFIX token are candidates.  Because prefixes hold
    each doc's rarest tokens, the candidate join's key blocks are
    small by construction — the selectivity the rare-token blocking
    family gets from a df window, derived here from the threshold
    itself with zero recall loss.  The length filter (t*|x| <= |y| <=
    |x|/t, applied both directions on the unordered pair) prunes
    before verification; exact Jaccard on the full token sets decides.

    Scale shape: one df census groupBy (keyed on token), one per-doc
    sort-collect groupBy, the prefix-token equi-join, then a pair-
    keyed verify against the pinned (doc, token-array) table — every
    shuffle keyed, no driver state, no cartesian.  The verify stage
    carries only prefix-corroborated, length-compatible pairs.
    Adversarial corpora where even the rarest tokens are shared by
    everyone (boilerplate-only docs) degrade the prefix blocks; the
    MinHash path is the approximate fallback there.

    Reference parity: none (the reference verifies ALL pairs); this is
    the exact-similarity analogue of its full cross scoring for the
    10^12-doc regime.

    ``unit``: ``"token"`` (default) runs over distinct word tokens;
    ``"shingle"`` over the SAME distinct 3-word shingles as the
    MinHash family (:func:`_shingled`) — which makes this the exact
    ground truth `minhash_recall` measures banding misses against.
    """
    if unit == "shingle":
        # _shingled yields the (already distinct) shingle ARRAY behind
        # its Generate barrier; explode to the one-row-per-unit shape
        toks = _shingled(
            ensure_width(df), text_col, id_col, 3, out_col="_sh"
        ).select("doc_id", F.explode(F.col("_sh")).alias("tok"))
    elif unit == "token":
        toks = ensure_width(df).select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.array_distinct(
                    tokens(F.coalesce(F.col(text_col), F.lit("")))
                )
            ).alias("tok"),
        )
    else:
        raise ValueError(f"unknown unit {unit!r} (token|shingle)")
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    per_doc = (
        toks.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("tok")))
            ).alias("_ord"),
            F.count("*").alias("sz"),
        )
    )
    # pinned: referenced by the prefix explode AND both verify sides —
    # unpinned, the census+sort-collect chain re-executes per reference
    per_doc = _pin(
        per_doc.select(
            "doc_id",
            "sz",
            F.transform(F.col("_ord"), lambda s: s["tok"]).alias("toks"),
        ),
        pin,
    )
    prefix_len = (
        F.col("sz") - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1
    ).cast("int")
    pref = per_doc.select(
        "doc_id",
        "sz",
        F.explode(F.slice(F.col("toks"), F.lit(1), prefix_len)).alias("tok"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    t = F.lit(float(threshold))
    cand = (
        a.join(b, "tok")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .where(
            (F.col("b.sz") >= t * F.col("a.sz"))
            & (F.col("a.sz") >= t * F.col("b.sz"))
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
        .dropDuplicates(["doc_id_1", "doc_id_2"])
    )
    g = per_doc.select("doc_id", "toks")
    verified = (
        cand.join(
            g.select(F.col("doc_id").alias("doc_id_1"), F.col("toks").alias("g1")),
            "doc_id_1",
        )
        .join(
            g.select(F.col("doc_id").alias("doc_id_2"), F.col("toks").alias("g2")),
            "doc_id_2",
        )
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(jaccard_col(F.col("g1"), F.col("g2")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified


def prefix_filter_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    pin: bool = True,
) -> DataFrame:
    """Cross-corpus prefix-filtered exact similarity join: all
    (left, right) pairs with word-set Jaccard >= ``threshold`` —
    the incremental-ingest shape (new crawl vs existing corpus),
    exact counterpart of ``minhash_cross_near_duplicates``.

    Same machinery as the self join with ONE cross-cutting rule: the
    canonical token order must come from the UNION document frequency
    of both sides.  Per-side orders disagree on rank, and the prefix
    guarantee only holds when both sides expose prefixes under the
    same total order — a token rare on the left but common on the
    right must count as common for both.  The df census is therefore
    one groupBy over the union'd token table; everything downstream
    (prefix explode, length filter, exact verify) is per-side.

    Output: (doc_id_1 from left, doc_id_2 from right, jaccard) —
    oriented, no doc_id_1 < doc_id_2 canonicalization (ids may
    collide across corpora; sides are kept distinct like the cross
    linkage pipeline).
    """

    def _toks(df: DataFrame) -> DataFrame:
        return ensure_width(df).select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.array_distinct(
                    tokens(F.coalesce(F.col(text_col), F.lit("")))
                )
            ).alias("tok"),
        )

    tl, tr = _toks(left), _toks(right)
    dfreq = (
        tl.unionByName(tr).groupBy("tok").agg(F.count("*").alias("df"))
    )

    def _per_doc(t: DataFrame) -> DataFrame:
        return _pin(
            t.join(dfreq, "tok")
            .groupBy("doc_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("df"), F.col("tok")))
                ).alias("_ord"),
                F.count("*").alias("sz"),
            )
            .select(
                "doc_id",
                "sz",
                F.transform(F.col("_ord"), lambda s: s["tok"]).alias(
                    "toks"
                ),
            ),
            pin,
        )

    pl, pr = _per_doc(tl), _per_doc(tr)
    prefix_len = (
        F.col("sz") - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1
    ).cast("int")

    def _pref(p: DataFrame) -> DataFrame:
        return p.select(
            "doc_id",
            "sz",
            F.explode(F.slice(F.col("toks"), F.lit(1), prefix_len)).alias(
                "tok"
            ),
        )

    t = F.lit(float(threshold))
    cand = (
        _pref(pl)
        .select(
            F.col("doc_id").alias("doc_id_1"), F.col("sz").alias("sz1"), "tok"
        )
        .join(
            _pref(pr).select(
                F.col("doc_id").alias("doc_id_2"),
                F.col("sz").alias("sz2"),
                "tok",
            ),
            "tok",
        )
        .where((F.col("sz2") >= t * F.col("sz1")) & (F.col("sz1") >= t * F.col("sz2")))
        .select("doc_id_1", "doc_id_2")
        .dropDuplicates(["doc_id_1", "doc_id_2"])
    )
    verified = (
        cand.join(
            pl.select(
                F.col("doc_id").alias("doc_id_1"), F.col("toks").alias("g1")
            ),
            "doc_id_1",
        )
        .join(
            pr.select(
                F.col("doc_id").alias("doc_id_2"), F.col("toks").alias("g2")
            ),
            "doc_id_2",
        )
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(jaccard_col(F.col("g1"), F.col("g2")), 6).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified


def sql_prefix_filter_cross_pairs(
    left_pred: str,
    right_pred: str,
    table: str = "documents",
    text_col: str = "text",
    threshold: float = 0.7,
) -> str:
    """DuckDB twin of prefix_filter_cross_pairs over one base table
    split by two predicates (the driver twin splits ``documents``)."""
    from ..functions.text import sql_tokens

    t = repr(float(threshold))
    return f"""
        WITH tl AS MATERIALIZED (
            SELECT doc_id, unnest(list_distinct(
                {sql_tokens(f"coalesce({text_col}, '')")})) AS tok
            FROM {table} WHERE {left_pred}
        ),
        tr AS MATERIALIZED (
            SELECT doc_id, unnest(list_distinct(
                {sql_tokens(f"coalesce({text_col}, '')")})) AS tok
            FROM {table} WHERE {right_pred}
        ),
        dfreq AS (
            SELECT tok, count(*) AS df
            FROM (SELECT * FROM tl UNION ALL SELECT * FROM tr)
            GROUP BY tok
        ),
        ol AS MATERIALIZED (
            SELECT t.doc_id, t.tok,
                   row_number() OVER (
                       PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS rn,
                   count(*) OVER (PARTITION BY t.doc_id) AS sz
            FROM tl t JOIN dfreq d USING (tok)
        ),
        orr AS MATERIALIZED (
            SELECT t.doc_id, t.tok,
                   row_number() OVER (
                       PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS rn,
                   count(*) OVER (PARTITION BY t.doc_id) AS sz
            FROM tr t JOIN dfreq d USING (tok)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
            FROM (SELECT * FROM ol
                  WHERE rn <= sz - ceil({t} * sz) + 1) a
            JOIN (SELECT * FROM orr
                  WHERE rn <= sz - ceil({t} * sz) + 1) b
              ON a.tok = b.tok
            WHERE b.sz >= {t} * a.sz AND a.sz >= {t} * b.sz
        ),
        inter AS (
            SELECT c.doc_id_1, c.doc_id_2,
                   count(*) AS i,
                   any_value(t1.sz) AS sz1, any_value(t2.sz) AS sz2
            FROM cand c
            JOIN ol t1 ON t1.doc_id = c.doc_id_1
            JOIN orr t2 ON t2.doc_id = c.doc_id_2 AND t2.tok = t1.tok
            GROUP BY 1, 2
        )
        SELECT doc_id_1, doc_id_2,
               round(CAST(i AS DOUBLE) / (sz1 + sz2 - i), 6) AS jaccard
        FROM inter
        WHERE round(CAST(i AS DOUBLE) / (sz1 + sz2 - i), 6) >= {t}
    """


def sql_prefix_filter_pairs(
    table: str = "documents",
    text_col: str = "text",
    threshold: float = 0.7,
    unit: str = "token",
) -> str:
    """DuckDB twin of prefix_filter_pairs — same canonical order, same
    prefix/length filters, same exact-Jaccard verify.  The ordered
    CTE is MATERIALIZED: prefix + both verify sides reference it.
    ``unit="shingle"`` runs over the same distinct 3-word shingles as
    the minhash twins (``sql_shingles``)."""
    from ..functions.text import sql_shingles, sql_tokens

    coalesced = f"coalesce({text_col}, '')"
    if unit == "shingle":
        units = f"unnest({sql_shingles(coalesced)})"
    elif unit == "token":
        units = f"unnest(list_distinct({sql_tokens(coalesced)}))"
    else:
        raise ValueError(f"unknown unit {unit!r} (token|shingle)")
    t = repr(float(threshold))
    return f"""
        WITH tok AS MATERIALIZED (
            SELECT doc_id, {units} AS tok
            FROM {table}
        ),
        dfreq AS (
            SELECT tok, count(*) AS df FROM tok GROUP BY tok
        ),
        ordered AS MATERIALIZED (
            SELECT t.doc_id, t.tok,
                   row_number() OVER (
                       PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS rn,
                   count(*) OVER (PARTITION BY t.doc_id) AS sz
            FROM tok t JOIN dfreq d USING (tok)
        ),
        pref AS (
            SELECT doc_id, tok, sz FROM ordered
            WHERE rn <= sz - ceil({t} * sz) + 1
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
            FROM pref a JOIN pref b
              ON a.tok = b.tok AND a.doc_id < b.doc_id
            WHERE b.sz >= {t} * a.sz AND a.sz >= {t} * b.sz
        ),
        inter AS (
            SELECT c.doc_id_1, c.doc_id_2,
                   count(*) AS i,
                   any_value(t1.sz) AS sz1, any_value(t2.sz) AS sz2
            FROM cand c
            JOIN ordered t1 ON t1.doc_id = c.doc_id_1
            JOIN ordered t2 ON t2.doc_id = c.doc_id_2 AND t2.tok = t1.tok
            GROUP BY 1, 2
        )
        SELECT doc_id_1, doc_id_2,
               round(CAST(i AS DOUBLE) / (sz1 + sz2 - i), 6) AS jaccard
        FROM inter
        WHERE round(CAST(i AS DOUBLE) / (sz1 + sz2 - i), 6) >= {t}
    """


# ------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document fingerprinting)
# ------------------------------------------------------------------


def winnow_fingerprint_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """(doc_id, fingerprint): one row per selected winnowing
    fingerprint — the staged form of
    functions.text.winnow_fingerprints (narrow projections + explode,
    no shuffle).

    The tokenize and k-gram-hash steps each sit behind an
    ``explode(array(..))`` Generate barrier: the window-minimum lambda
    references the gram array per WINDOW element, and higher-order
    lambdas are interpreted (no CSE), so the inlined single-expression
    form re-derives the whole md5 k-gram chain once per window —
    measured ~60x slower at sf0.01 than the staged form.
    """
    tokenized = ensure_width(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(tokens(F.col(text_col)))).alias("_toks"),
    )
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.md5(
                F.concat_ws(
                    " ",
                    *[F.try_element_at(toks, i + j + 1) for j in range(k)],
                )
            ),
        ),
    ).otherwise(
        # short-doc fallback: one whole-doc hash (empty docs: none)
        F.when(
            F.size(toks) > 0, F.array(F.md5(F.array_join(toks, " ")))
        ).otherwise(F.array().cast("array<string>"))
    )
    grammed = tokenized.select(
        "doc_id", F.explode(F.array(grams)).alias("_grams")
    )
    g = F.col("_grams")
    mins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(g) - w),
            lambda j: F.array_min(F.slice(g, j + 1, w)),
        )
    )
    fps = F.when(F.size(g) >= w, mins).otherwise(
        F.when(F.size(g) > 0, F.array(F.array_min(g))).otherwise(
            F.array().cast("array<string>")
        )
    )
    return grammed.select("doc_id", F.explode(fps).alias("fingerprint"))


def winnow_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_bucket_size: int | None = 1000,
    salt_buckets: int = 8,
    drop_factor: int = 16,
    with_census: bool = False,
    pin: bool = True,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Near-duplicate pairs by SHARED winnowing fingerprints:
    (doc_id_1, doc_id_2, shared_fps) for pairs sharing at least
    ``min_shared`` selected fingerprints.  Winnowing guarantees any
    shared token run of length >= k+w-1 yields a shared fingerprint,
    so overlap count is a plagiarism-style containment signal that
    MinHash (a resemblance sketch) dilutes on asymmetric containment.

    Scale shape: the fingerprint table is a bucket family like every
    other — census/cap/salt tiers bound a boilerplate fingerprint's
    bucket.  The tiers emit each pair once PER SHARED KEY
    (``dedup=False`` plain equi-join; the triangle-salted join also
    emits exactly once per shared hot key), so one groupBy both
    deduplicates and counts — no separate dedup shuffle.  Dropped
    buckets (census-reported) remove their fingerprint from every
    doc's overlap count, like a stopword.
    """
    keys = _pin(
        winnow_fingerprint_table(df, text_col, id_col, k, w).select(
            "doc_id", F.col("fingerprint").alias("block_key")
        ),
        pin,
    )
    cfg = BlockingConfig(
        max_block_size=max_bucket_size if max_bucket_size else 1 << 30,
        salt_buckets=salt_buckets,
        salt_drop_factor=drop_factor,
    )
    if max_bucket_size is None:
        raw = candidate_pairs(keys, dedup=False)
        dropped = df.sparkSession.createDataFrame(
            [], "block_key string, block_size long"
        )
    else:
        raw, dropped = tiered_pairs(keys, cfg)
    out = (
        raw.groupBy("doc_id_1", "doc_id_2")
        .agg(F.count("*").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
        .select(
            "doc_id_1",
            "doc_id_2",
            F.col("shared_fps").cast("long").alias("shared_fps"),
        )
    )
    return (out, dropped) if with_census else out


def sql_winnow_near_duplicates(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
) -> str:
    """DuckDB twin of winnow_near_duplicates (untiered join — equal to
    the tiered Spark path while no bucket exceeds the drop ceiling)."""
    cte = sql_winnow_fingerprint_cte(table, text_col, id_col, k, w)
    return f"""
        WITH {cte}
        SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
               CAST(count(*) AS BIGINT) AS shared_fps
        FROM fp a JOIN fp b
          ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {min_shared}
    """


# ------------------------------------------------------------------
# SimHash (64-bit sketch; vectorized pandas UDF — no per-row Python
# in the plan, one Arrow batch pass)
# ------------------------------------------------------------------


@lru_cache(maxsize=1 << 20)
def _word_bits(w: str):
    # natural-language vocabularies are Zipfian: per-executor the same
    # words hash over and over — memoize the md5->±1 bit vector (the
    # expensive part of the sketch) per worker.  Module-level so the
    # UDF closure pickles.
    import hashlib

    import numpy as np

    h = int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big")
    return np.array(
        [1 if (h >> bit) & 1 else -1 for bit in range(64)], dtype=np.int32
    )


def simhash_sketch(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash): Charikar 64-bit sketch over the doc's
    DISTINCT word set, one Arrow batch pass (no per-row Python in the
    plan).  Tokenization is the regex split of functions.text.tokens /
    sql_tokens (lowercase, split on [^a-z0-9]+) and the per-word hash
    is the first 8 bytes of md5 big-endian — both reproducible in
    DuckDB, so the sketch (and the band/hamming stages over it) has an
    exact oracle twin (``sql_simhash_near_duplicates``)."""
    import re

    import numpy as np

    word_re = re.compile(r"[^a-z0-9]+")

    # a one-split parquet corpus would run the whole Arrow UDF in ONE
    # task (measured 6.3s -> sub-second at sf0.1 on 32 cores).
    # Zero-token docs are dropped BEFORE sketching (r5): they all
    # sketched to 0 and banded together as hamming-0 "duplicates" of
    # each other with no content evidence — no units, no sketch (the
    # minhash/ngram empty-set rule).
    df = ensure_width(df).where(
        F.col(text_col).isNotNull() & (F.size(tokens(F.col(text_col))) > 0)
    )

    @F.pandas_udf("long")
    def simhash64(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(0)
                continue
            words = {w for w in word_re.split(t.lower()) if w}
            if not words:
                out.append(0)
                continue
            counts = np.zeros(64, dtype=np.int32)
            for w in words:
                counts += _word_bits(w)
            bits = np.nonzero(counts > 0)[0]
            v = 0
            for bit in bits:
                v |= 1 << int(bit)
            # to signed 64-bit
            out.append(v - (1 << 64) if v >= (1 << 63) else v)
        return pd.Series(out, dtype="int64")

    return df.select(
        F.col(id_col).alias("doc_id"), simhash64(F.col(text_col)).alias("simhash")
    )


def simhash_near_duplicates(
    sketches: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket_size: int | None = 1000,
    salt_buckets: int = 8,
    drop_factor: int = 16,
    with_census: bool = False,
    pin: bool = True,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Near-dups by hamming distance <= max_hamming via multi-probe
    band tables: the 64-bit sketch is split into ``n_bands`` disjoint
    bit bands and docs sharing ANY band value become candidates
    (union of ``n_bands`` bucket tables, one pair-dedup).

    Recall guarantee by pigeonhole: a pair within hamming distance
    ``n_bands - 1`` differs in fewer bits than there are bands, so at
    least one band is untouched and the pair shares that band's bucket
    — recall is EXACTLY 1.0 for ``max_hamming <= n_bands - 1`` (the
    pytest gate).  Larger ``max_hamming`` degrades gracefully
    (candidates from any agreeing band).  Band buckets go through the
    census/cap/salt tiers like every other bucket family; verification
    is native XOR+popcount against the (tiny) sketch table.

    ``with_census=True`` returns (pairs, dropped_census): a dropped
    band bucket is the most-duplicated content losing its pairs —
    report it, don't silently keep it (see minhash_near_duplicates).
    """
    width = 64 // n_bands
    sk = _pin(ensure_width(sketches).select("doc_id", "simhash"), pin)
    band_keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(b).cast("string"),
                F.shiftrightunsigned(F.col("simhash"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .cast("string"),
            )
            for b in range(n_bands)
        ]
    )
    keys = sk.select("doc_id", F.explode(band_keys).alias("block_key"))
    if max_bucket_size is None:
        cand = candidate_pairs(keys)
        dropped = sketches.sparkSession.createDataFrame(
            [], "block_key string, block_size long"
        )
    else:
        cand, dropped = capped_bucket_pairs(
            keys, max_bucket_size, salt_buckets, drop_factor
        )
    out = (
        cand.join(
            sk.select(
                F.col("doc_id").alias("doc_id_1"),
                F.col("simhash").alias("sh_1"),
            ),
            "doc_id_1",
        )
        .join(
            sk.select(
                F.col("doc_id").alias("doc_id_2"),
                F.col("simhash").alias("sh_2"),
            ),
            "doc_id_2",
        )
        .select(
            "doc_id_1",
            "doc_id_2",
            F.bit_count(F.col("sh_1").bitwiseXOR(F.col("sh_2"))).alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    return (out, dropped) if with_census else out


def sql_simhash_near_duplicates(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> str:
    """DuckDB twin of simhash_sketch + simhash_near_duplicates.

    Reproduces the sketch bit-for-bit: same regex tokenization
    (sql_tokens), same per-word hash (first 8 bytes of md5, big-endian
    = first 16 hex chars cast via '0x'), same majority-vote bits.  The
    sketch lives as UBIGINT so band extraction (>> is logical) and
    xor/bit_count see the same 64-bit pattern as Spark's
    shiftrightunsigned over the signed long."""
    width = 64 // n_bands
    # per-bit majority votes over the doc's distinct words
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(64)
    )
    # usk = sum of 2^b over bits with positive vote (docs with no
    # words have no agg row -> sketch 0 via the left join); 2^b as
    # decimal literals — DuckDB's << computes in BIGINT and overflows
    # at 1 << 63 even from a UBIGINT operand
    bits = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b}::UBIGINT ELSE 0::UBIGINT END)"
        for b in range(64)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"(usk >> {b * width}) & {(1 << width) - 1} AS band_val FROM sk"
        for b in range(n_bands)
    )
    return f"""
        WITH words AS (
            SELECT {id_col} AS doc_id,
                   unnest(list_distinct({sql_tokens(text_col)})) AS w
            FROM {table}
        ),
        hv AS (
            SELECT doc_id,
                   ('0x' || substr(md5(w), 1, 16))::UBIGINT AS h
            FROM words
        ),
        agg AS (SELECT doc_id, {votes} FROM hv GROUP BY doc_id),
        sk AS (
            -- zero-token docs never sketch (r5 empty-set rule: they
            -- all landed on sketch 0 and banded as hamming-0 "dupes"
            -- of each other) — inner join drops them, matching the
            -- Spark-side pre-filter
            SELECT a.doc_id, {bits} AS usk
            FROM agg a
        ),
        bands AS ({bands}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        )
        SELECT c.doc_id_1, c.doc_id_2,
               CAST(bit_count(xor(s1.usk, s2.usk)) AS INT) AS hamming
        FROM cand c
        JOIN sk s1 ON c.doc_id_1 = s1.doc_id
        JOIN sk s2 ON c.doc_id_2 = s2.doc_id
        WHERE bit_count(xor(s1.usk, s2.usk)) <= {max_hamming}
    """


def dedup_weights(
    keep_list: DataFrame,
    alpha: float = 1.0,
) -> DataFrame:
    """Soft dedup: instead of DROPPING near-duplicates (keep list),
    DOWNWEIGHT them — each doc gets sampling weight
    ``1 / cluster_size^alpha``, so a cluster of n near-copies
    contributes ~1 document's worth of training mass in expectation
    (alpha=1; alpha<1 interpolates toward keeping duplicates, alpha=0
    is no dedup).  The soft alternative pipelines reach for when hard
    dedup costs too much recall on legitimately repeated content
    (boilerplate-heavy domains, licensed corpora counted per copy).

    Input: the ``(doc_id, canonical_id, keep)`` keep list from
    :func:`near_duplicate_keep_list` / :func:`keep_list_from_pairs`.
    Output: one row per doc — ``(doc_id, canonical_id, cluster_size,
    weight)`` with weight rounded to 6 decimals.

    Scale shape: ONE map-combinable groupBy on canonical_id (the
    cluster-size census) + one keyed join back; integer exponents stay
    in exact double arithmetic (n^alpha = exp-free for alpha=1, the
    default), so weights agree bit-for-bit across engines.
    """
    sizes = keep_list.groupBy("canonical_id").agg(
        F.count("*").alias("cluster_size")
    )
    if alpha == 1.0:
        w = F.lit(1.0) / F.col("cluster_size")
    else:
        w = F.lit(1.0) / F.pow(
            F.col("cluster_size").cast("double"), F.lit(float(alpha))
        )
    return keep_list.select("doc_id", "canonical_id").join(
        sizes, "canonical_id"
    ).select(
        "doc_id",
        "canonical_id",
        "cluster_size",
        F.round(w, 6).alias("weight"),
    )

"""Seeded linkage corpora with planted entities.

Every corpus is ``sources.synth.synth_documents`` over a generated
customer table: entity key ``k`` becomes an ``a`` copy, a perturbed
``b`` copy and, for every 5th key, a ``c`` copy.  The doc id encodes
the key (``<copy><9-digit k>``), so the planted entity of a document is
read from its id alone, without calling the program.

The seed shifts the key window (a key shift, as in the scaling bench's
per-copy discipline) and, for the incremental workload, picks which
entities' ``b`` copies are held out.  Synth names depend on the key
modulo 60*59*61 = 215,940 and the perturbations on the key modulo 5, 7
and 11, so a shift by a multiple of all four keeps exactly the names,
typos and copies of keys 1..N (hence the name blocks and the pair
volume), while phones, emails, zips, addresses and segments change.  Without that, windows over different last names gave 2-3x
different pair volumes (and link times) from one seed to the next.
Keys stay below 1e9: doc ids pad them to 9 digits and the synth
digit codes multiply them within int64.
"""

from __future__ import annotations

import random

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
NAME_CYCLE = 60 * 59 * 61
SHIFT = NAME_CYCLE * 7 * 11  # also a multiple of 5
SHIFTS = 60  # 60 * SHIFT < 1e9


def key_offset(seed: int) -> int:
    return (seed % SHIFTS) * SHIFT


def entity_keys(n_entities: int, seed: int) -> range:
    if n_entities >= NAME_CYCLE:
        raise ValueError(f"{n_entities} entities exceed the {NAME_CYCLE}-key name cycle")
    off = key_offset(seed)
    return range(off + 1, off + n_entities + 1)


def entity_of(doc_id: str) -> int:
    return int(doc_id[1:])


def doc_ids(keys) -> list[str]:
    """The ids ``synth_documents`` gives the entities ``keys``."""
    out = []
    for k in keys:
        out.append(f"a{k:09d}")
        out.append(f"b{k:09d}")
        if k % 5 == 0:
            out.append(f"c{k:09d}")
    return out


def documents(spark, n_entities: int, seed: int):
    """Pinned ``documents(doc_id, spans)`` for the seed's key window."""
    from pyspark.sql import functions as F

    from record_linkage_ldu_spark.sources.synth import synth_documents

    keys = entity_keys(n_entities, seed)
    k = F.col("id")
    segment = F.element_at(
        F.array(*[F.lit(s) for s in SEGMENTS]),
        F.pmod(F.xxhash64(k), F.lit(len(SEGMENTS))).cast("int") + 1,
    )
    cust = spark.range(keys.start, keys.stop).select(
        k.alias("c_custkey"), segment.alias("c_mktsegment")
    )
    return synth_documents(cust).localCheckpoint(eager=True)


def held_out_batches(
    n_entities: int, seed: int, n_batches: int, batch_docs: int
) -> list[list[str]]:
    """Seeded micro-batches of ``b`` copies.  Each held-out doc
    duplicates the ``a`` copy of its entity, which stays in the store."""
    keys = random.Random(seed).sample(
        list(entity_keys(n_entities, seed)), n_batches * batch_docs
    )
    return [
        [f"b{k:09d}" for k in sorted(keys[i * batch_docs:(i + 1) * batch_docs])]
        for i in range(n_batches)
    ]

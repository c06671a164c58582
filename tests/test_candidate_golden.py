"""Golden candidate pair sets for self, cross and incremental linkage.

Each digest is a sha256 over the sorted candidate pairs (or, for the
incremental store, the stored match edges) and the dropped-block
census, on a tiny-cap configuration whose block census reaches the
plain, salted and dropped tiers, with the windowed sorted-neighborhood
pass on.  The digests were captured from the separate self, cross and
incremental candidate builders before they were folded into one tier
stack (``blocking.tiered_pairs``) and one sorted-neighborhood pass, so
a refactor of that stack must reproduce them exactly."""

import hashlib

from pyspark.sql import functions as F

from record_linkage_ldu_spark.operators.blocking import (
    BlockingConfig,
    block_census,
    block_keys,
    generate_candidates,
)
from record_linkage_ldu_spark.plans.linkage import (
    CrossLinkagePipeline,
    LinkageConfig,
    records_view,
)
from record_linkage_ldu_spark.sources.io import StageStore
from record_linkage_ldu_spark.streaming.incremental import (
    incremental_linkage_batch,
)
from test_incremental import _docs as _fixture_docs

# plain tier: blocks of <= 2; salted tier: 3-6; dropped beyond 6
_BC = BlockingConfig(
    max_block_size=2,
    salt_drop_factor=3,
    use_sorted_neighborhood=False,
    sn_window=8,
)

_SELF_DIGEST = (
    "9618a12a49fdc222e00c95e8dda972f923fdf52001aacbfbbd266eb0127fe717"
)
_CROSS_DIGEST = (
    "a52bec94b4019d94825cefeb505dceb3ecad92dbc9971afdf14490134da6050f"
)
_INCREMENTAL_DIGEST = (
    "65267a1c37e3085607adee209b963fd81e45d08035fa16a1fb70b259c3a972c3"
)


def _docs(spark):
    return _fixture_docs(spark).localCheckpoint(eager=True)


def _digest(pairs, dropped) -> str:
    h = hashlib.sha256()
    rows = pairs.select("doc_id_1", "doc_id_2").collect()
    h.update(repr(sorted(tuple(r) for r in rows)).encode())
    h.update(repr(dropped).encode())
    return h.hexdigest()


def _assert_all_tiers(keys):
    sizes = {r["block_size"] for r in block_census(keys).collect()}
    ceiling = _BC.max_block_size * _BC.salt_drop_factor
    assert any(s <= _BC.max_block_size for s in sizes), sizes
    assert any(_BC.max_block_size < s <= ceiling for s in sizes), sizes
    assert any(s > ceiling for s in sizes), sizes


def test_self_candidates_golden(spark):
    records = records_view(_docs(spark), LinkageConfig(blocking=_BC))
    _assert_all_tiers(block_keys(records, _BC))
    pairs, dropped = generate_candidates(
        records, _BC, num_partitions=8, materialize_keys=True
    )
    census = sorted(tuple(r) for r in dropped.collect())
    assert census
    assert _digest(pairs, census) == _SELF_DIGEST


def test_cross_pipeline_pairs_golden(spark, tmp_path):
    docs = _docs(spark)
    left = docs.where(F.col("doc_id").startswith("a"))
    right = docs.where(~F.col("doc_id").startswith("a"))
    res = CrossLinkagePipeline(
        spark,
        LinkageConfig(blocking=_BC),
        store=StageStore(spark, str(tmp_path / "stages")),
    ).run(left, right)
    assert res.stage_info["dropped_blocks"] > 0
    assert _digest(res.pairs, res.stage_info["dropped_blocks"]) == _CROSS_DIGEST


def test_incremental_store_edges_golden(spark, tmp_path):
    docs = _docs(spark)
    first = F.substring("doc_id", 1, 1)
    store = str(tmp_path / "store")
    cfg = LinkageConfig(blocking=_BC)
    dropped = [
        incremental_linkage_batch(spark, docs.where(part), store, cfg=cfg)[
            "dropped_block_keys"
        ]
        for part in (first == "a", first != "a")
    ]
    assert dropped[-1]
    edges = spark.read.parquet(f"{store}/edges")
    assert _digest(edges, dropped) == _INCREMENTAL_DIGEST

"""Column trees built once per py4j gateway (session.built_once): a
second build of the normalize, blocking and scoring plans reuses the
cached Columns, runs the same plan and gives the same rows."""

import gc

import py4j.clientserver
from pyspark import SparkContext
from pyspark.sql import functions as F

from record_linkage_ldu_spark import session
from record_linkage_ldu_spark.operators.blocking import (
    block_keys,
    generate_candidates,
)
from record_linkage_ldu_spark.operators.scoring import (
    attach_pair_sides,
    score_pairs_self,
)
from record_linkage_ldu_spark.plans.linkage import LinkageConfig, records_view
from record_linkage_ldu_spark.session import built_once


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _insets(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count(" INSET ")


def _round_trips(monkeypatch, build):
    """py4j round-trips of ``build()`` (collected garbage first, so
    proxy deletes of earlier builds are not counted)."""
    calls = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(self, command):
        calls[0] += 1
        return send(self, command)

    gc.collect()
    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counted
    )
    try:
        out = build()
    finally:
        monkeypatch.undo()
    return out, calls[0]


def test_records_view_second_build_is_cached(spark, tiny_gen, monkeypatch):
    docs = tiny_gen.select("doc_id", "spans")
    cfg = LinkageConfig()
    first = records_view(docs, cfg)

    calls = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(self, command):
        calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counted
    )
    second = records_view(docs, cfg)
    monkeypatch.undo()

    assert calls[0] < 300, calls[0]
    # one InSet stopword probe per stopword-filtered field, both builds
    assert _insets(first) == _insets(second) == 16
    assert _rows(first.drop("spans")) == _rows(second.drop("spans"))


def test_block_keys_and_scores_second_build_same_rows(spark, tiny_gen):
    cfg = LinkageConfig()
    records = records_view(tiny_gen.select("doc_id", "spans"), cfg).drop(
        "spans"
    ).localCheckpoint(eager=True)
    keys = [block_keys(records, cfg.blocking) for _ in range(2)]
    assert _rows(keys[0]) == _rows(keys[1])

    k = keys[0]
    pairs = (
        k.withColumnRenamed("doc_id", "doc_id_1")
        .join(k.withColumnRenamed("doc_id", "doc_id_2"), "block_key")
        .where(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    wide = attach_pair_sides(pairs, records, ("name", "phone", "address"))
    scored = [
        score_pairs_self(wide, fields=("name", "phone", "address"))
        for _ in range(2)
    ]
    assert scored[0].count() > 0
    assert _rows(scored[0]) == _rows(scored[1])


def test_built_once_never_crosses_gateways(monkeypatch):
    """Cached JVM objects belong to the gateway that built them: a new
    gateway gets a fresh build, never the old gateway's value."""
    built = []

    def build():
        built.append(SparkContext._gateway)
        return object()

    key = ("test_built_once_never_crosses_gateways",)
    a = built_once(key, build)
    assert built_once(key, build) is a and len(built) == 1

    monkeypatch.setattr(SparkContext, "_gateway", object())
    b = built_once(key, build)
    assert b is not a and built[-1] is SparkContext._gateway
    monkeypatch.undo()

    c = built_once(key, build)
    assert c is not a and c is not b and len(built) == 3


def test_records_view_first_build_round_trips(spark, tiny_gen, monkeypatch):
    """The first build in a gateway: the lookup maps and the span
    filters are one SQL string each (~6.9k round-trips when they were
    built literal by literal, ~3.5k since), and the plan is the same:
    one stopword InSet per filtered field."""
    docs = tiny_gen.select("doc_id", "spans")
    cached = session._BUILT.copy()
    session._BUILT.clear()
    try:
        first, calls = _round_trips(
            monkeypatch, lambda: records_view(docs, LinkageConfig())
        )
    finally:
        session._BUILT.update(cached)
    assert calls < 4500, calls
    assert _insets(first) == 16
    assert _rows(first.drop("spans")) == _rows(
        records_view(docs, LinkageConfig()).drop("spans")
    )


def test_generate_candidates_second_build_round_trips(
    spark, tiny_gen, monkeypatch
):
    """A repeat candidate build reuses the salted triangle-cell array
    (~3.8-4.9k round-trips per build when it was rebuilt every time,
    ~1.6k since) and yields the same pairs."""
    cfg = LinkageConfig()
    records = records_view(tiny_gen.select("doc_id", "spans"), cfg).drop(
        "spans"
    ).localCheckpoint(eager=True)
    first, _ = generate_candidates(records, cfg.blocking, materialize_keys=True)
    (second, _), calls = _round_trips(
        monkeypatch,
        lambda: generate_candidates(
            records, cfg.blocking, materialize_keys=True
        ),
    )
    assert calls < 2500, calls
    assert _rows(first) == _rows(second)

"""Tests of the planted-truth checks (plain Python, no Spark).

    python3 -m pytest linkbench/test_check.py -q
"""

import check
import corpus

KEYS = range(1, 11)  # keys 5 and 10 also get a c copy
DOCS = corpus.doc_ids(KEYS)


def planted():
    """The planted truth: clusters labelled by min member, and the
    a-b / a-c matches that connect each entity."""
    clusters, matches = [], []
    for k in KEYS:
        members = [d for d in DOCS if corpus.entity_of(d) == k]
        clusters += [(d, min(members)) for d in members]
        matches += [(members[0], d) for d in members[1:]]
    return clusters, matches


def test_planted_truth_passes():
    clusters, matches = planted()
    problems, quality = check.check_linkage(DOCS, clusters, matches, floors=check.EXACT)
    assert problems == []
    assert quality == {"precision": 1.0, "recall": 1.0}


def test_one_corrupted_cluster_label_fails():
    clusters, matches = planted()
    doc, _ = clusters[0]
    clusters[0] = (doc, clusters[-1][1])  # move one doc into another entity's cluster
    problems, quality = check.check_linkage(DOCS, clusters, matches)
    assert any("connected components" in p for p in problems)
    assert any("not the min member" in p for p in problems)
    assert quality["precision"] < 1.0 and quality["recall"] < 1.0


def test_non_min_cluster_id_fails():
    clusters, matches = planted()
    relabelled = [(d, "z" + c) if corpus.entity_of(d) == 3 else (d, c) for d, c in clusters]
    problems, _ = check.check_linkage(DOCS, relabelled, matches)
    assert problems == ["1 cluster ids are not the min member doc_id, e.g. za000000003"]


def test_missing_and_duplicate_docs_fail():
    clusters, matches = planted()
    problems, _ = check.check_linkage(DOCS, clusters[1:] + [clusters[2]], matches)
    assert any("no cluster" in p for p in problems)
    assert any("more than one cluster" in p for p in problems)


def test_clusters_must_follow_matches():
    clusters, matches = planted()
    problems, _ = check.check_linkage(DOCS, clusters, matches[1:])
    assert any("connected components" in p for p in problems)


def test_recall_floor():
    clusters, matches = planted()
    split = [(d, d) for d, _ in clusters]  # all singletons
    problems, quality = check.check_linkage(DOCS, split, [])
    assert quality["recall"] == 0.0
    assert any("recall" in p for p in problems)


def test_cross_matches_must_join_sides():
    clusters, matches = planted()
    left = [d for d in DOCS if d.startswith("a")]
    cross = [(a, b) for a, b in matches]
    assert check.check_linkage(DOCS, clusters, cross, left_ids=left)[0] == []
    # b-c match inside the right side
    extra = cross + [("b000000005", "c000000005")]
    problems, _ = check.check_linkage(DOCS, clusters, extra, left_ids=left)
    assert problems == ["1 cross matches do not join a left doc with a right doc"]


def test_components_label_by_min_member():
    cc = check.components(["d", "c", "b", "a", "e"], [("d", "c"), ("c", "a")])
    assert cc == {"a": "a", "c": "a", "d": "a", "b": "b", "e": "e"}


def test_held_out_batches_are_b_copies_of_the_window():
    batches = corpus.held_out_batches(100, 3, 2, 10)
    ids = [d for b in batches for d in b]
    window = corpus.entity_keys(100, 3)
    assert len(set(ids)) == 20 and all(d.startswith("b") for d in ids)
    assert all(corpus.entity_of(d) in window for d in ids)
    assert batches == corpus.held_out_batches(100, 3, 2, 10)

"""Planted-truth checks, computed apart from the program.

Plain Python over the rows a run returns: the planted entity of each
doc comes from its id (``corpus.entity_of``), connected components
from a union-find over the returned matches.  Nothing here imports
the linkage package.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from math import comb

from corpus import entity_of

# pairwise precision / recall floors for the batch workloads; the
# incremental store must equal the planted entities exactly
FLOORS = {"precision": 0.995, "recall": 0.995}
EXACT = {"precision": 1.0, "recall": 1.0}


def components(nodes, edges) -> dict[str, str]:
    """doc -> min member of its connected component (union-find)."""
    parent = {n: n for n in nodes}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def _partition(labels: dict[str, str]) -> set[frozenset]:
    groups = defaultdict(set)
    for doc, label in labels.items():
        groups[label].add(doc)
    return {frozenset(g) for g in groups.values()}


def pairwise_quality(labels: dict[str, str]) -> dict[str, float]:
    """Pairwise precision and recall of a clustering against the
    planted entities of its docs."""
    true_pairs = sum(
        comb(n, 2) for n in Counter(entity_of(d) for d in labels).values()
    )
    by_cluster = defaultdict(Counter)
    for doc, label in labels.items():
        by_cluster[label][entity_of(doc)] += 1
    predicted = hit = 0
    for ents in by_cluster.values():
        predicted += comb(sum(ents.values()), 2)
        hit += sum(comb(n, 2) for n in ents.values())
    return {
        "precision": hit / predicted if predicted else 1.0,
        "recall": hit / true_pairs if true_pairs else 1.0,
    }


def check_linkage(
    doc_ids,
    clusters,
    matches,
    left_ids=None,
    floors=FLOORS,
) -> tuple[list[str], dict[str, float]]:
    """Check ``clusters`` rows ``(doc_id, cluster_id)`` and ``matches``
    rows ``(doc_id_1, doc_id_2)`` of one run over ``doc_ids``.

    Returns the problems found (empty when correct) and the pairwise
    precision / recall.  ``left_ids`` marks a cross run: every match
    must then join a left doc with a right doc.
    """
    problems: list[str] = []
    expected = set(doc_ids)
    labels: dict[str, str] = {}
    for doc, label in clusters:
        if doc in labels:
            problems.append(f"{doc} is in more than one cluster")
        labels[doc] = label
    missing = expected - labels.keys()
    extra = labels.keys() - expected
    if missing:
        problems.append(f"{len(missing)} input docs have no cluster, e.g. {min(missing)}")
    if extra:
        problems.append(f"{len(extra)} clustered docs are not input docs, e.g. {min(extra)}")

    members = defaultdict(list)
    for doc, label in labels.items():
        members[label].append(doc)
    bad_ids = [label for label, docs in members.items() if label != min(docs)]
    if bad_ids:
        problems.append(f"{len(bad_ids)} cluster ids are not the min member doc_id, e.g. {min(bad_ids)}")

    edges = [(a, b) for a, b in matches]
    unknown = {d for e in edges for d in e} - expected
    if unknown:
        problems.append(f"{len(unknown)} matched docs are not input docs")
    else:
        cc = components(expected, edges)
        if _partition(labels) != _partition(cc):
            problems.append("clusters are not the connected components of the matches")

    if left_ids is not None:
        left = set(left_ids)
        same_side = sum(1 for a, b in edges if (a in left) == (b in left))
        if same_side:
            problems.append(f"{same_side} cross matches do not join a left doc with a right doc")

    quality = pairwise_quality(labels)
    for name, floor in floors.items():
        if quality[name] < floor:
            problems.append(f"pairwise {name} {quality[name]:.6f} is below {floor}")
    return problems, quality

"""Pure-Python golden for connected components.

The library labels components with a large-star/small-star loop of
Spark joins (``training/dedup.py::dedup_clusters``). This union-find
states the contract directly and is the independent cross-check the
clustering tests compare it against: every node that appears in a pair
is labeled with its component's minimum id.
"""

from __future__ import annotations


def golden_components(pairs) -> set[tuple[int, int]]:
    """(node, component minimum) for every node in ``pairs``, an
    iterable of (a, b) edges."""
    parent: dict[int, int] = {}

    def root(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, root(x)) for x in parent}

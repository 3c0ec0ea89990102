"""Pure-Python answers computed from the generated inputs alone.

The workloads compare every checked program output against these. None
of this imports the program or Spark.
"""

from __future__ import annotations

import re
from collections import Counter

from .gen import FollowGraph, user_id

# -- graph --------------------------------------------------------------


def mutual_pairs(g: FollowGraph, users) -> set[tuple[str, str]]:
    """(user, mutual) rows for the given scraped users: accounts that
    follow the user and that the user follows back."""
    return {
        (user_id(x), user_id(a)) for x in users for a in g.inn[x] & g.out[x]
    }


def undirected(g: FollowGraph) -> dict[int, set[int]]:
    adj: dict[int, set[int]] = {}
    for u, vs in enumerate(g.out):
        for v in vs:
            if u != v:
                adj.setdefault(u, set()).add(v)
                adj.setdefault(v, set()).add(u)
    return adj


def graph_summary(g: FollowGraph) -> dict[str, int]:
    """Node, undirected-edge and triangle counts, and the number of
    (user, mutual) rows of the whole graph."""
    adj = undirected(g)
    n_edges = sum(len(vs) for vs in adj.values()) // 2
    key = {u: (len(vs), u) for u, vs in adj.items()}
    fwd = {u: {v for v in vs if key[v] > key[u]} for u, vs in adj.items()}
    triangles = sum(len(fwd[u] & fwd[v]) for u in fwd for v in fwd[u])
    mutual_rows = sum(1 for u, vs in enumerate(g.out) for v in vs if u in g.out[v])
    return {
        "n_nodes": len(adj),
        "n_edges": n_edges,
        "n_triangles": triangles,
        "n_mutual_rows": mutual_rows,
    }


# -- text -----------------------------------------------------------------

LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "ein", "ist"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "la", "et", "un", "est"),
}


def words(text: str) -> list[str]:
    return re.findall(r"[a-z0-9]+", text.lower())


def normalized(text: str) -> str:
    return " ".join(words(text))


def lang(text: str) -> str:
    """Marker-word argmax with en > de > es > fr priority; 'und' when no
    marker occurs."""
    toks = words(text)
    s = {k: sum(t in m for t in toks) for k, m in LANG_MARKERS.items()}
    if sum(s.values()) == 0:
        return "und"
    if s["en"] >= max(s["de"], s["es"], s["fr"]):
        return "en"
    if s["de"] >= max(s["es"], s["fr"]):
        return "de"
    return "es" if s["es"] >= s["fr"] else "fr"


def lang_counts(docs) -> dict[str, int]:
    return dict(Counter(lang(t) for _, t in docs))


def exact_dup_count(docs) -> int:
    """Rows that are not the keeper of their normalized-text group."""
    return len(docs) - len({normalized(t) for _, t in docs})


def shingles(text: str, n: int = 3) -> set[str]:
    w = words(text)
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


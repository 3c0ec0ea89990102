"""Self-test of the benchmark's own inputs and truths (no Spark needed).

    python3 perfbench/selftest.py

Checks that one seed always gives identical inputs and a second seed
gives different ones, that the planted shares come out as stated, and
that the pure-Python truths are right on small hand-made cases.
"""

import random
import sys
from pathlib import Path

sys.path[0] = str(Path(__file__).resolve().parent.parent)

from perfbench import config as C  # noqa: E402
from perfbench import gen, truth  # noqa: E402


def _take(it, n):
    return [next(it) for _ in range(n)]


def ingest_inputs(seed: int):
    p = gen.ingest_plan(random.Random(seed))
    rounds = _take(p.rounds(), 3)
    return [p.graph.edges(), p.base, p.fresh, sorted(p.profiles.items()), rounds]


def lookup_inputs(seed: int):
    p = gen.lookup_plan(random.Random(seed), 12)
    return [p.graph.edges(), sorted(p.profiles.items()), p.interests,
            _take(p.requests(), 50)]


def corpus_inputs(seed: int):
    c = gen.corpus(random.Random(seed))
    return [c.docs, c.vectors, c.queries, c.near_pairs, c.exact_groups]


def check(cond: bool, what: str, failures: list) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


def main() -> int:
    failures: list[str] = []
    for name, make in (("ingest", ingest_inputs), ("lookups", lookup_inputs),
                       ("corpus", corpus_inputs)):
        a, b, c = gen.digest(make(1)), gen.digest(make(1)), gen.digest(make(2))
        check(a == b, f"{name}: seed 1 twice gives identical inputs", failures)
        check(a != c, f"{name}: seed 2 gives different inputs", failures)

    g = gen.follow_graph(random.Random(3))
    indeg = sorted((len(s) for s in g.inn), reverse=True)
    check(indeg[0] > 10 * C.GRAPH_OUT[1], "graph: celebrity hubs exist", failures)
    check(len(truth.mutual_pairs(g, range(g.n))) > 0, "graph: mutuals exist",
          failures)
    linked = {(min(u, v), max(u, v)) for u, vs in enumerate(g.out) for v in vs}
    share = sum(b in g.out[a] and a in g.out[b] for a, b in linked) / len(linked)
    check(abs(share - C.GRAPH_RECIPROCITY) < 0.03,
          f"graph: reciprocal share of linked pairs {share:.3f}", failures)

    corpus = gen.corpus(random.Random(3))
    planted = sum(len(grp) - 1 for grp in corpus.exact_groups)
    check(truth.exact_dup_count(corpus.docs) == planted,
          f"corpus: exact duplicates = planted ({planted})", failures)
    text = dict(corpus.docs)
    near = [truth.jaccard(text[a], text[b]) for a, b in corpus.near_pairs]
    check(min(near) >= C.NEAR_DUP_THRESHOLD,
          f"corpus: planted near pairs reach the threshold (min {min(near):.3f})",
          failures)

    tri = gen.FollowGraph(n=4, out=[{1}, {2}, {0}, set()], rank=[0, 1, 2, 3],
                          hubs={0})
    s = truth.graph_summary(tri)
    check((s["n_nodes"], s["n_edges"], s["n_triangles"], s["n_mutual_rows"])
          == (3, 3, 1, 0), "truth: one directed 3-cycle is one triangle", failures)
    two = gen.FollowGraph(n=4, out=[{1}, {0}, {3}, set()], rank=[0, 1, 2, 3],
                          hubs={0})
    s = truth.graph_summary(two)
    check((s["n_nodes"], s["n_edges"], s["n_triangles"], s["n_mutual_rows"])
          == (4, 2, 0, 2), "truth: one reciprocal pair is two mutual rows",
          failures)
    check(truth.lang("the cat and der hund") == "en", "truth: lang priority", failures)
    check(truth.normalized("Hello, WORLD!") == "hello world", "truth: normalize",
          failures)
    check(abs(truth.jaccard("a b c d", "a b c e") - 1 / 3) < 1e-12,
          "truth: 3-shingle jaccard", failures)
    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

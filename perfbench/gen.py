"""Seeded input generators for every workload.

Each generator takes a ``random.Random`` seeded from the workload seed and
the sizes in :mod:`perfbench.config`, so one seed always yields identical
inputs. Nothing here imports Spark: the inputs are plain Python rows that
the workloads hand to the program and that :mod:`perfbench.truth` checks
its answers against.
"""

from __future__ import annotations

import bisect
import itertools
import json
import random
from dataclasses import dataclass, field

from . import config as C

# Category words of the reference taxonomy; a bio that contains one is
# categorizable by the keyword model. FILLER holds words that contain no
# category keyword (the keyword model matches substrings).
CATEGORY_WORDS = (
    "fashion", "outfit", "software", "developer", "recipe", "chef",
    "football", "athlete", "gym", "yoga", "wanderlust", "painting",
    "musician", "singer", "photography", "makeup", "skincare", "gamer",
    "esports", "entrepreneur", "startup", "movie", "teacher", "physics",
    "politics", "memes",
)
FILLER = (
    "hello", "world", "just", "my", "views", "own", "here",
    "forever", "vibes", "sunny", "blue", "north", "river", "cozy",
    "mornings", "coffee", "book", "club", "proud", "mom", "dog", "owner",
)


def user_id(i: int) -> str:
    return str(1_000_000 + i)


def username(i: int) -> str:
    return f"u{i:06d}_name"


@dataclass
class FollowGraph:
    """Directed follow graph over users ``0..n-1``: ``out[u]`` is the set
    of accounts ``u`` follows. ``rank`` lists users by popularity, most
    followed first (the celebrity hubs lead)."""

    n: int
    out: list[set[int]]
    rank: list[int]
    hubs: set[int]
    inn: list[set[int]] = field(default_factory=list)

    def __post_init__(self):
        if not self.inn:
            self.inn = [set() for _ in range(self.n)]
            for u, vs in enumerate(self.out):
                for v in vs:
                    self.inn[v].add(u)

    def edges(self) -> list[tuple[int, int]]:
        return [(u, v) for u, vs in enumerate(self.out) for v in sorted(vs)]


def follow_graph(rng: random.Random, n: int = C.GRAPH_USERS,
                 out_degree: tuple[int, int] = C.GRAPH_OUT) -> FollowGraph:
    """Pareto in-degree follow graph with celebrity hubs.

    Every user follows a uniform ``out_degree`` range of accounts picked in
    proportion to a Pareto(``GRAPH_PARETO_ALPHA``) popularity weight, so
    in-degree is heavy-tailed while out-degree stays bounded. Each follow
    is then returned with probability ``GRAPH_RECIPROCITY`` (unless the
    followed account already follows ``GRAPH_OUT_CAP`` times its maximum
    out-degree), which is what makes mutual edges exist."""
    cap = C.GRAPH_OUT_CAP * out_degree[1]
    weight = [rng.paretovariate(C.GRAPH_PARETO_ALPHA) for _ in range(n)]
    cum = list(itertools.accumulate(weight))
    total = cum[-1]
    out: list[set[int]] = [set() for _ in range(n)]
    for u in range(n):
        want = rng.randint(*out_degree)
        while len(out[u]) < want:
            v = min(bisect.bisect_left(cum, rng.random() * total), n - 1)
            if v != u:
                out[u].add(v)
    for u in range(n):
        for v in sorted(out[u]):
            if (u not in out[v] and len(out[v]) < cap
                    and rng.random() < C.GRAPH_RECIPROCITY):
                out[v].add(u)
    rank = sorted(range(n), key=lambda i: (-weight[i], i))
    hubs = set(rank[: max(1, int(n * C.GRAPH_HUB_SHARE))])
    return FollowGraph(n=n, out=out, rank=rank, hubs=hubs)


def bio(rng: random.Random) -> str:
    """A short bio that names a category keyword with probability
    ``BIO_KEYWORD_SHARE``."""
    words = rng.sample(FILLER, 4)
    if rng.random() < C.BIO_KEYWORD_SHARE:
        words.insert(rng.randrange(len(words) + 1), rng.choice(CATEGORY_WORDS))
    return " ".join(words)


def profile(rng: random.Random, g: FollowGraph, i: int) -> tuple:
    """One ``users`` row (without ``last_updated``) for user ``i``."""
    return (
        user_id(i), username(i), f"Name {i}", bio(rng),
        f"https://img.example/{i}.jpg", len(g.inn[i]), len(g.out[i]),
        rng.random() < 0.1,
    )


def zipf_sampler(rng: random.Random, n: int, s: float):
    """Draws ranks ``0..n-1`` with P(rank k) proportional to 1/(k+1)^s."""
    cum = list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n)))
    total = cum[-1]

    def draw() -> int:
        return min(bisect.bisect_left(cum, rng.random() * total), n - 1)

    return draw


# -- ingest -------------------------------------------------------------

@dataclass
class IngestPlan:
    """The base warehouse snapshot plus a lazy stream of scrape rounds."""

    graph: FollowGraph
    base: list[int]           # users already scraped before timing starts
    fresh: list[int]          # never-scraped users, in scrape order
    profiles: dict[int, tuple]
    rng: random.Random

    def scrape(self, u: int, direction: str) -> list[int]:
        """One scrape of ``u``'s followers or following with
        ``max_count=INGEST_MAX_COUNT``: the first accounts of the list."""
        nbrs = self.graph.inn[u] if direction == "followers" else self.graph.out[u]
        return sorted(nbrs)[: C.INGEST_MAX_COUNT]

    def rounds(self):
        """Yields ``(round_no, users)``: each round scrapes
        ``INGEST_USERS_PER_ROUND`` users, of which
        ``INGEST_RESCRAPES_PER_ROUND`` are re-scrapes of already-scraped
        users and the rest are new."""
        known = list(self.base)
        fresh = iter(self.fresh)
        n_again = C.INGEST_RESCRAPES_PER_ROUND
        for r in itertools.count(1):
            again = self.rng.sample(known, n_again)
            new = list(itertools.islice(fresh, C.INGEST_USERS_PER_ROUND - n_again))
            if not new:
                return
            known.extend(new)
            yield r, again + new

    def rescrape_profile(self, i: int) -> tuple:
        """A re-scraped profile: same account, new bio and counts."""
        return profile(self.rng, self.graph, i)


def ingest_plan(rng: random.Random) -> IngestPlan:
    """Hubs and ``INGEST_BASE_SHARE`` of the other users are scraped before
    timing starts (their full edge lists are in the base snapshot). The
    rest are scraped in rounds; only users with at least
    ``INGEST_MAX_COUNT`` followers and following are scraped, so every
    round lands the same number of edges."""
    g = follow_graph(rng, C.INGEST_GRAPH_USERS, C.INGEST_OUT)
    normal = [u for u in range(g.n) if u not in g.hubs]
    rng.shuffle(normal)
    n_base = int(len(normal) * C.INGEST_BASE_SHARE)
    base = sorted(g.hubs) + normal[:n_base]
    fresh = [u for u in normal[n_base:]
             if min(len(g.inn[u]), len(g.out[u])) >= C.INGEST_MAX_COUNT]
    profiles = {i: profile(rng, g, i) for i in range(g.n)}
    return IngestPlan(graph=g, base=base, fresh=fresh, profiles=profiles, rng=rng)


# -- lookups ------------------------------------------------------------

@dataclass
class LookupPlan:
    graph: FollowGraph
    profiles: dict[int, tuple]
    interests: list[tuple]    # (id, user_id, category_id, confidence)
    rng: random.Random

    def requests(self):
        """Endless request stream ``(kind, user)``: kinds rotate through
        ``LOOKUP_KINDS``; users are Zipf(``LOOKUP_ZIPF_S``) over popularity
        rank, so the celebrity hubs are asked about most."""
        draw = zipf_sampler(self.rng, self.graph.n, C.LOOKUP_ZIPF_S)
        for kind in itertools.cycle(C.LOOKUP_KINDS):
            yield kind, self.graph.rank[draw()]


def lookup_plan(rng: random.Random, n_categories: int) -> LookupPlan:
    g = follow_graph(rng, C.GRAPH_USERS)
    profiles = {i: profile(rng, g, i) for i in range(g.n)}
    interests = []
    for i in range(g.n):
        cats = rng.sample(range(1, n_categories + 1),
                          rng.randint(0, C.LOOKUP_MAX_INTERESTS))
        for c in sorted(cats):
            interests.append((len(interests) + 1, user_id(i), c,
                              round(rng.uniform(0.5, 0.95), 2)))
    return LookupPlan(graph=g, profiles=profiles, interests=interests, rng=rng)


# -- curation -----------------------------------------------------------

# Marker words per language (the lang-ID model's markers) and a neutral
# vocabulary that contains none of them.
LANG_WORDS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "ein", "ist"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "et", "un", "est"),
}
VOCAB = tuple(
    a + b for a in ("ka", "lo", "mi", "ne", "pu", "ro", "si", "tu", "vo", "zy",
                    "bra", "cle", "dri", "fro", "gli")
    for b in ("ban", "cor", "dul", "fen", "gor", "hil", "jun", "kes", "lum",
              "mor", "nap", "ost", "pir", "qua", "rus", "tev", "vix", "wol")
)


@dataclass
class Corpus:
    docs: list[tuple[int, str]]            # (doc_id, text)
    exact_groups: list[list[int]]          # planted exact-duplicate groups
    near_pairs: list[tuple[int, int]]      # planted (source, variant) pairs
    vectors: list[tuple[int, list[float]]]
    queries: list[tuple[int, list[float]]]
    query_truth: dict[int, int]            # query_id -> planted nearest vec_id


def _doc(rng: random.Random, lang: str) -> list[str]:
    words = [rng.choice(VOCAB) for _ in range(rng.randint(*C.DOC_WORDS))]
    markers = LANG_WORDS[lang]
    for _ in range(len(words) // 6):
        words.insert(rng.randrange(len(words) + 1), rng.choice(markers))
    return words


def corpus(rng: random.Random) -> Corpus:
    """Documents with planted exact duplicates (re-cased and
    re-punctuated copies, which normalize equal) and near duplicates
    (``NEAR_DUP_EDITS`` word substitutions), plus embeddings with one
    planted near neighbour per query."""
    n = C.CORPUS_DOCS
    n_exact = int(n * C.EXACT_DUP_SHARE)
    n_near = int(n * C.NEAR_DUP_SHARE)
    n_orig = n - n_exact - n_near
    texts = [_doc(rng, rng.choice(tuple(LANG_WORDS))) for _ in range(n_orig)]
    docs = [(d, " ".join(w)) for d, w in enumerate(texts)]
    sources = rng.sample(range(n_orig), n_exact + n_near)
    groups: dict[int, list[int]] = {}
    for src in sources[:n_exact]:
        d = len(docs)
        copy = [w.upper() if rng.random() < 0.2 else w for w in texts[src]]
        docs.append((d, ", ".join(copy) + "!"))
        groups.setdefault(src, [src]).append(d)
    near = []
    for src in sources[n_exact:]:
        d = len(docs)
        words = list(texts[src])
        for _ in range(C.NEAR_DUP_EDITS):
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
        docs.append((d, " ".join(words)))
        near.append((src, d))
    order = list(range(len(docs)))
    rng.shuffle(order)  # doc ids no longer reveal which copy is planted
    relabel = {old: new for new, old in enumerate(order)}
    docs = sorted((relabel[d], t) for d, t in docs)
    exact_groups = [sorted(relabel[d] for d in g) for g in groups.values()]
    near_pairs = [tuple(sorted((relabel[a], relabel[b]))) for a, b in near]

    dim = C.VECTOR_DIM
    vectors = [
        (v, [round(rng.gauss(0.0, 1.0), 5) for _ in range(dim)])
        for v in range(C.VECTORS)
    ]
    queries, query_truth = [], {}
    for q, v in enumerate(rng.sample(range(C.VECTORS), C.VECTOR_QUERIES)):
        base = vectors[v][1]
        queries.append(
            (q, [round(x + rng.gauss(0.0, C.VECTOR_QUERY_NOISE), 5) for x in base])
        )
        query_truth[q] = v
    return Corpus(docs=docs, exact_groups=exact_groups,
                  near_pairs=near_pairs, vectors=vectors, queries=queries,
                  query_truth=query_truth)


def row_bytes(rows) -> int:
    """Size of generated rows as JSON lines — the yardstick that
    ``stored_bytes_per_input_byte`` divides warehouse bytes by."""
    return sum(len(json.dumps(r, default=str)) + 1 for r in rows)


def digest(obj) -> str:
    """Stable content hash of generated inputs (for the self-test)."""
    import hashlib

    return hashlib.sha256(
        json.dumps(obj, default=sorted, sort_keys=True).encode()
    ).hexdigest()


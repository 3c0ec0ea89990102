"""The two workloads. Each one builds its inputs in set-up, then runs ops
that call one layer group of the program, and checks every answer against
:mod:`perfbench.truth`.

A workload exposes ``setup()``, ``op(i)`` returning an :class:`OpResult`,
``final_check()``, ``stored_bytes()``, ``input_bytes``, ``offered_bytes``
(data its timed ops hand the program to store) and ``layer_metrics()``.
``cycle`` is the number of ops in one full mix; the runner only stops
between cycles. ``is_request(i)`` picks the ops that latency percentiles
are taken over.
"""

from __future__ import annotations

import datetime as dt
import random
import shutil
import statistics
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

from . import config as C
from . import gen, truth
from .trace import NullTracer, Tracer, dir_bytes

T0 = dt.datetime(2024, 1, 1)


@dataclass
class OpResult:
    ok: bool
    rows: int
    problem: str = ""


@dataclass
class Context:
    spark: object
    workdir: Path
    seed: int
    tracer: NullTracer


def frame(spark, rows: list[tuple], schema):
    """A DataFrame of generated rows, shipped to the JVM through Arrow."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame.from_records(rows, columns=schema.fieldNames()), schema)


def _fresh(path: Path) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return str(path)


def _mismatch(what: str, got, want) -> OpResult:
    return OpResult(False, 0, f"{what}: got {got!r}, want {want!r}")


def _median(xs, scale: float = 1.0) -> float:
    return statistics.median(xs) * scale if xs else 0.0


# -- ingest ----------------------------------------------------------------

class Ingest:
    """Scrape rounds through the job scheduler into the Pipeline stages."""

    name = "ingest"
    cycle = 1

    @staticmethod
    def is_request(i: int) -> bool:
        return True

    def __init__(self, ctx: Context):
        from pyspark.sql import types as T

        from instagram_data_pipeline_spark import schemas
        from instagram_data_pipeline_spark.analysis.categorizer import (
            KeywordCategorizer,
        )

        self.ctx = ctx
        self.S = schemas
        # a scraped profile: a users row before the pipeline stamps it
        self.profile_schema = T.StructType(schemas.USERS.fields[:-1])
        self.plan = gen.ingest_plan(random.Random(ctx.seed))
        self.rounds = self.plan.rounds()
        self.scraped = set(self.plan.base)
        self.landed: dict[int, tuple[set, set]] = {}  # user -> (followers, following)
        self.offered_edges = 0
        self.inserted_edges = 0
        self.scanned_edges = 0
        self.new_mutuals = 0
        self.input_bytes = 0     # base plus every round offered
        self.offered_bytes = 0   # timed rounds only
        self.categorizer = KeywordCategorizer()
        if ctx.tracer.enabled:
            from .categorize import TimedCategorizer

            sc = ctx.spark.sparkContext
            self.cat_seconds = sc.accumulator(0.0)
            self.cat_records = sc.accumulator(0)
            self.categorizer = TimedCategorizer(
                self.categorizer, self.cat_seconds, self.cat_records)

    @staticmethod
    def _edge_rows(lists: dict[int, list[int]], now) -> list[tuple]:
        return [(None, gen.user_id(x), gen.user_id(a), now)
                for x, nbrs in lists.items() for a in nbrs]

    def _mutuals(self, users) -> set[tuple[str, str]]:
        """Mutual rows the landed edges of ``users`` imply."""
        return {(gen.user_id(x), gen.user_id(a)) for x in users
                for a in self.landed[x][0] & self.landed[x][1]}

    def setup(self) -> None:
        """Write the warehouse as it stands after the base users were
        scraped (profiles plus endpoint stubs, both edge tables, their
        mutuals, interests and completed scrape jobs), then open the
        Pipeline over it; its constructor adds the missing tables and
        seeds the category taxonomy."""
        from instagram_data_pipeline_spark.io import Warehouse
        from instagram_data_pipeline_spark.plans.manual import Pipeline

        spark, S, plan, g = self.ctx.spark, self.S, self.plan, self.plan.graph
        root = _fresh(self.ctx.workdir / "ingest")
        wh = Warehouse(spark, root)
        then = T0 - dt.timedelta(days=30)
        base = plan.base
        self.landed = {u: (set(g.inn[u]), set(g.out[u])) for u in base}
        users = [plan.profiles[i] + (then,) for i in base]
        seen = {gen.user_id(i) for i in base}
        followers = self._edge_rows({u: sorted(g.inn[u]) for u in base}, then)
        following = self._edge_rows({u: sorted(g.out[u]) for u in base}, then)
        for _, x, a, _ in followers + following:
            for u in (x, a):
                if u not in seen:  # endpoint stub, as append_edges makes
                    seen.add(u)
                    users.append((u, u, None, None, None, None, None, None, then))
        mutuals = [(None, x, a, then) for x, a in sorted(self._mutuals(base))]
        rng = random.Random(self.ctx.seed)
        interests = [  # two of the 18 main categories per base user
            (n, uid, c, 0.75, then) for n, (uid, c) in enumerate(
                ((gen.user_id(i), c) for i in base
                 for c in sorted(rng.sample(range(1, 19), 2))), start=1)
        ]
        jobs = [
            (j, gen.username(i), kind, "completed", then, then, None, None, 0, None)
            for j, (i, kind) in enumerate(
                ((i, k) for i in sorted(base)
                 for k in ("followers", "following", "profile")), start=1)
        ]
        wh.write("users", frame(spark, users, S.USERS))
        wh.write("followers", frame(spark, followers, S.FOLLOWERS))
        wh.write("following", frame(spark, following, S.FOLLOWING))
        wh.write("mutuals", frame(spark, mutuals, S.MUTUALS))
        wh.write("interests", frame(spark, interests, S.INTERESTS))
        wh.write("scrape_jobs", frame(spark, jobs, S.SCRAPE_JOBS))
        self.pipeline = Pipeline(spark, root, now=then)
        self._start_python_workers(profiles_of=base[:100])
        if self.ctx.tracer.enabled:  # count only the timed rounds
            self.cat_seconds.value = 0.0
            self.cat_records.value = 0
        self.base_edges = len(followers) + len(following)
        self.input_bytes = gen.row_bytes(
            users + followers + following + mutuals + interests + jobs)

    def _start_python_workers(self, profiles_of: list[int]) -> None:
        """Categorize a few base profiles with one task per core, so that
        Spark's Python workers (started once per session and then reused)
        are up before timing starts."""
        from instagram_data_pipeline_spark.analysis.categorizer import (
            categorize_following,
        )

        spark = self.ctx.spark
        rows = [self.plan.profiles[i] for i in profiles_of]
        profiles = frame(spark, rows, self.profile_schema).repartition(
            spark.sparkContext.defaultParallelism)
        categorize_following(profiles, self.categorizer).count()

    def op(self, i: int) -> OpResult:
        from instagram_data_pipeline_spark.plans.scheduler import JobScheduler

        spark, S, plan, p = self.ctx.spark, self.S, self.plan, self.pipeline
        r, users = next(self.rounds)
        now = T0 + dt.timedelta(days=8 * r)  # past the 7-day re-scrape guard
        p.now = now
        profiles = [
            (plan.rescrape_profile(u) if u in self.scraped else plan.profiles[u])
            for u in users
        ]
        pages = {d: {u: plan.scrape(u, d) for u in users}
                 for d in ("followers", "following")}
        followers = self._edge_rows(pages["followers"], now)
        following = self._edge_rows(pages["following"], now)
        before = len(self._mutuals(self.scraped & set(users)))
        want = {"followers": 0, "following": 0}
        for u in users:
            have = self.landed.setdefault(u, (set(), set()))
            for side, d in enumerate(("followers", "following")):
                want[d] += len(set(pages[d][u]) - have[side])
                have[side].update(pages[d][u])
        want_mutuals = len(self._mutuals(users)) - before
        got: dict[str, int] = {}

        def land(kind):
            def handler(_username):
                if kind in got:  # the round's batch for this kind has landed
                    return
                if kind == "profile":
                    p.upsert_profiles(spark.createDataFrame(profiles, self.profile_schema))
                    got[kind] = len(profiles)
                else:
                    rows = followers if kind == "followers" else following
                    schema = S.FOLLOWERS if kind == "followers" else S.FOLLOWING
                    got[kind] = p.append_edges(
                        kind, spark.createDataFrame(rows, schema),
                        "follower_id" if kind == "followers" else "following_id")
            return handler

        def both_complete(_username):
            if "mutuals" not in got:
                self.scanned_edges += (  # edge-table rows the derivation reads
                    self.base_edges + self.inserted_edges
                    + got.get("followers", 0) + got.get("following", 0))
                got["mutuals"] = p.derive_mutuals()

        sched = JobScheduler(spark, p.wh, now=now)  # default quota and batch size
        enqueued = sched.enqueue_users([gen.username(u) for u in users])
        stats = sched.process_pending_jobs(
            {k: land(k) for k in ("profile", "followers", "following")},
            on_both_complete=both_complete,
        )
        p.analyze_interests(self.categorizer, limit=len(users))

        self.scraped.update(users)
        self.offered_edges += len(followers) + len(following)
        self.inserted_edges += got.get("followers", 0) + got.get("following", 0)
        self.new_mutuals += got.get("mutuals", 0)
        landed = gen.row_bytes(profiles + followers + following)
        self.input_bytes += landed
        self.offered_bytes += landed
        jobs = C.JOBS_PER_USER * len(users)
        if enqueued != jobs:
            return _mismatch(f"round {r} jobs enqueued", enqueued, jobs)
        if stats["completed"] != jobs:
            return _mismatch(f"round {r} tick", stats, jobs)
        for kind in ("followers", "following"):
            if got.get(kind) != want[kind]:
                return _mismatch(f"round {r} new {kind} edges", got.get(kind),
                                 want[kind])
        if got.get("mutuals") != want_mutuals:
            return _mismatch(f"round {r} new mutuals", got.get("mutuals"),
                             want_mutuals)
        return OpResult(True, len(followers) + len(following))

    def final_check(self) -> list[str]:
        rows = self.pipeline.wh.read("mutuals").select(
            "user_id", "mutual_id").collect()
        got = {(row.user_id, row.mutual_id) for row in rows}
        want = self._mutuals(self.scraped)
        if got != want or len(rows) != len(want):
            return [f"final mutuals: {len(rows)} rows ({len(got - want)} unexpected, "
                    f"{len(want - got)} missing), want {len(want)}"]
        return []

    def stored_bytes(self) -> int:
        return dir_bytes(str(self.pipeline.wh.root))

    def layer_metrics(self, tr: Tracer, ops: int) -> dict:
        per_op = 1.0 / max(ops, 1)
        return {
            "plans.upsert_profiles_s": tr.total("plans.upsert_profiles") * per_op,
            "plans.append_edges_s": tr.total("plans.append_edges") * per_op,
            "plans.derive_mutuals_s": tr.total("plans.derive_mutuals") * per_op,
            "plans.analyze_interests_s": tr.total("plans.analyze_interests") * per_op,
            "plans.scheduler_tick_s": tr.self_total("plans.scheduler_tick") * per_op,
            "writes.new_row_ratio": self.inserted_edges / max(self.offered_edges, 1),
            "mutuals.derive_s": tr.self_total("plans.derive_mutuals") * per_op,
            "mutuals.edges_scanned_per_new_mutual":
                self.scanned_edges / max(self.new_mutuals, 1),
            "analysis.categorize_s": self.cat_seconds.value * per_op,
            "analysis.records_categorized": self.cat_records.value * per_op,
        }


# -- analytics -------------------------------------------------------------

CATEGORY_NAMES = (
    "Fashion", "Technology", "Sports", "Fitness", "Food", "Travel", "Art",
    "Music", "Photography", "Beauty", "Gaming", "Business",
)


class Lookups:
    """Per-user read requests against a warehouse built in set-up."""

    def __init__(self, ctx: Context):
        from instagram_data_pipeline_spark import schemas

        self.ctx = ctx
        self.S = schemas
        self.plan = gen.lookup_plan(random.Random(ctx.seed), len(CATEGORY_NAMES))
        self.requests = self.plan.requests()
        self.seen: set[int] = set()
        self.repeats = 0
        self.asked = 0

    def build(self) -> None:
        from instagram_data_pipeline_spark.io import Warehouse

        spark, S, plan = self.ctx.spark, self.S, self.plan
        self.wh = Warehouse(spark, _fresh(self.ctx.workdir / "warehouse"))
        users = [plan.profiles[i] + (T0,) for i in range(plan.graph.n)]
        edges = plan.graph.edges()
        followers = [(None, gen.user_id(v), gen.user_id(u), T0) for u, v in edges]
        following = [(None, gen.user_id(u), gen.user_id(v), T0) for u, v in edges]
        interests = [row + (T0,) for row in plan.interests]
        categories = [(c, name, None, f"{name} related content")
                      for c, name in enumerate(CATEGORY_NAMES, start=1)]
        self.wh.write("users", frame(spark, users, S.USERS))
        self.wh.write("followers", frame(spark, followers, S.FOLLOWERS))
        self.wh.write("following", frame(spark, following, S.FOLLOWING))
        self.wh.write("interests", frame(spark, interests, S.INTERESTS))
        self.wh.write("interest_categories",
                      frame(spark, categories, S.INTEREST_CATEGORIES))
        self.input_bytes = gen.row_bytes(
            users + followers + following + interests + categories)

    def _answer(self, kind: str, u: int):
        """What the program should return for request ``kind`` on user ``u``."""
        g, plan = self.plan.graph, self.plan
        if kind == "key_lookup":
            return [gen.user_id(u)]
        if kind == "following_profiles":
            return Counter((plan.profiles[v][1], plan.profiles[v][2],
                            plan.profiles[v][3] or "") for v in g.out[u])
        if kind == "edge_count":
            return len(g.inn[u])
        if kind == "mutual_edges":
            return truth.mutual_pairs(g, [u])
        uid = gen.user_id(u)
        return Counter((CATEGORY_NAMES[c - 1], conf)
                       for _, owner, c, conf in plan.interests if owner == uid)

    def _request(self, kind: str, u: int):
        from instagram_data_pipeline_spark.operators import mutuals, relational

        wh, tr = self.wh, self.ctx.tracer
        name, uid = gen.username(u), gen.user_id(u)
        if kind == "key_lookup":
            with tr.span("relational.key_lookup"):
                rows = relational.key_lookup(wh.read("users"), name).collect()
            return [r.user_id for r in rows], len(rows)
        if kind == "following_profiles":
            with tr.span("relational.following_profiles"):
                rows = relational.following_profiles(
                    wh.read("following"), wh.read("users"), uid).collect()
            return Counter(tuple(r) for r in rows), len(rows)
        if kind == "edge_count":
            with tr.span("relational.edge_count"):
                n = relational.edge_count_for_user(
                    wh.read("followers"), wh.read("users"), name)
            return n, 1
        if kind == "mutual_edges":
            with tr.span("mutuals.per_user"):
                rows = mutuals.mutual_edges(
                    wh.read("followers"), wh.read("following"), user_id=uid
                ).collect()
            return {(r.user_id, r.mutual_id) for r in rows}, len(rows)
        with tr.span("relational.interest_detail"):
            rows = relational.user_interest_detail(
                wh.read("interests"), wh.read("users"),
                wh.read("interest_categories"), name).collect()
        return Counter(tuple(r) for r in rows), len(rows)

    def op(self) -> OpResult:
        kind, u = next(self.requests)
        self.asked += 1
        self.repeats += u in self.seen
        self.seen.add(u)
        got, rows = self._request(kind, u)
        want = self._answer(kind, u)
        if got != want:
            return _mismatch(f"{kind}({gen.username(u)})", got, want)
        return OpResult(True, rows)

    def layer_metrics(self, tr: Tracer) -> dict:
        ms = {name: _median(tr.durations(name), 1e3) for name in (
            "relational.key_lookup", "relational.following_profiles",
            "relational.edge_count", "relational.interest_detail",
            "mutuals.per_user")}
        return {f"{name}_ms": v for name, v in ms.items()} | {
            "lookups.repeat_share": self.repeats / max(self.asked, 1)}


class Graph:
    """Whole-graph jobs over the stored follow graph."""

    def __init__(self, ctx: Context, g: gen.FollowGraph):
        self.ctx = ctx
        self.g = g
        self.want = truth.graph_summary(g)
        self.n_edges = sum(len(vs) for vs in g.out)

    def _edges(self):
        return self.wh.read("following").selectExpr(
            "user_id AS src", "following_id AS dst")

    def op(self, job: str) -> OpResult:
        from instagram_data_pipeline_spark.operators import graph, mutuals

        tr, want = self.ctx.tracer, self.want
        if job == "triangle_stats":
            with tr.span("graph.triangle_stats"):
                row = graph.triangle_stats(self._edges()).collect()[0]
            got = (row.n_nodes, row.n_edges, row.n_triangles)
            exp = (want["n_nodes"], want["n_edges"], want["n_triangles"])
        else:
            with tr.span("mutuals.derive"):
                got = mutuals.mutual_edges(
                    self.wh.read("followers"), self.wh.read("following")).count()
            exp = want["n_mutual_rows"]
        if got != exp:
            return _mismatch(job, got, exp)
        return OpResult(True, self.n_edges)

    def layer_metrics(self, tr: Tracer) -> dict:
        return {
            "graph.triangle_stats_s": _median(tr.durations("graph.triangle_stats")),
            "mutuals.derive_s": _median(tr.durations("mutuals.derive")),
        }


def _vectors_schema(id_col: str):
    from pyspark.sql import types as T

    return T.StructType([T.StructField(id_col, T.LongType()),
                         T.StructField("embedding", T.ArrayType(T.DoubleType()))])


class Curation:
    """One curation job per op: text features, exact and near dedup, and
    exact cosine top-k over stored documents and embeddings."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.c = gen.corpus(random.Random(ctx.seed))
        self.want_langs = truth.lang_counts(self.c.docs)
        self.want_exact = truth.exact_dup_count(self.c.docs)
        self.text = dict(self.c.docs)
        self.candidates: list[int] = []
        self.verified: list[int] = []

    def build(self) -> None:
        from pyspark.sql import types as T

        from instagram_data_pipeline_spark.io import write_sink

        spark, c = self.ctx.spark, self.c
        docs = T.StructType([T.StructField("doc_id", T.LongType()),
                             T.StructField("text", T.StringType())])
        self.root = Path(_fresh(self.ctx.workdir / "corpus"))
        write_sink(frame(spark, c.docs, docs), str(self.root / "docs"))
        write_sink(frame(spark, c.vectors, _vectors_schema("vec_id")),
                   str(self.root / "vectors"))
        write_sink(frame(spark, c.queries, _vectors_schema("query_id")),
                   str(self.root / "queries"))
        self.input_bytes = gen.row_bytes(c.docs + c.vectors + c.queries)

    def _read(self, name: str):
        from instagram_data_pipeline_spark.io import read_source

        return read_source(self.ctx.spark, str(self.root / name))

    def op(self) -> OpResult:
        from pyspark.sql import functions as F

        from instagram_data_pipeline_spark.extensions import dedup, similarity
        from instagram_data_pipeline_spark.functions import text

        tr, c = self.ctx.tracer, self.c
        docs = self._read("docs")
        with tr.span("text.features"):
            rows = docs.select(
                text.lang_id(F.col("text")).alias("lang"),
                text.quality_score(F.col("text")).alias("q"),
            ).groupBy("lang").agg(
                F.count("*").alias("n"), F.min("q").alias("lo"), F.max("q").alias("hi")
            ).collect()
        langs = {r.lang: r.n for r in rows}
        if langs != self.want_langs:
            return _mismatch("lang_id counts", langs, self.want_langs)
        if any(r.lo < 0.0 or r.hi > 1.0 for r in rows):
            return _mismatch("quality_score range", rows, "[0, 1]")

        with tr.span("dedup.exact"):
            row = dedup.exact_dedup(docs, "doc_id", "text").agg(
                (F.sum("n_dups") - F.count("*")).alias("dups")).collect()[0]
        if row.dups != self.want_exact:
            return _mismatch("exact duplicates", row.dups, self.want_exact)

        threshold = C.NEAR_DUP_THRESHOLD
        with tr.span("dedup.minhash"):
            pairs = dedup.minhash_near_dups(
                docs, "doc_id", "text", threshold=threshold).collect()
        if tr.enabled:  # traced runs only: the LSH candidates behind ``pairs``
            sigs = dedup.minhash_signatures(docs, "doc_id", "text")
            self.candidates.append(dedup.lsh_candidate_pairs(sigs).count())
            self.verified.append(len(pairs))
        found = {(r.doc_a, r.doc_b) for r in pairs}
        recall = len(found & set(c.near_pairs)) / max(len(c.near_pairs), 1)
        if recall < C.NEAR_DUP_MIN_RECALL:
            return _mismatch("near-dup recall", recall, C.NEAR_DUP_MIN_RECALL)
        low = [(a, b) for a, b in found
               if truth.jaccard(self.text[a], self.text[b]) < threshold - 1e-6]
        if low:
            return _mismatch("verified pairs below threshold", low[:3], [])

        with tr.span("similarity.cosine_topk"):
            top = similarity.cosine_topk(
                self._read("vectors"), self._read("queries"), k=C.TOPK,
            ).filter(F.col("rank") == 1).collect()
        got = {r.query_id: r.vec_id for r in top}
        if got != c.query_truth:
            return _mismatch("cosine top-1", len(got), len(c.query_truth))
        return OpResult(True, len(c.docs))

    def layer_metrics(self, tr: Tracer) -> dict:
        return {
            "text.features_s": _median(tr.durations("text.features")),
            "dedup.exact_s": _median(tr.durations("dedup.exact")),
            "dedup.minhash_s": _median(tr.durations("dedup.minhash")),
            "dedup.candidate_pairs": _median(self.candidates),
            "dedup.verified_ratio":
                sum(self.verified) / max(sum(self.candidates), 1),
            "similarity.cosine_topk_s":
                _median(tr.durations("similarity.cosine_topk")),
        }


class Analytics:
    """The read side in one mix. One cycle runs each graph job once, one
    curation job, then ``ANALYTICS_LOOKUPS_PER_KIND`` requests of each
    lookup kind (last, so they meet a warm engine), all over inputs built
    in set-up: the lookups warehouse, whose edge tables the graph jobs
    read too, and the stored corpus. Latency percentiles are taken over
    the lookup requests, the interactive part; throughput over all ops."""

    name = "analytics"
    cycle = len(C.GRAPH_JOBS) + 1 \
        + C.ANALYTICS_LOOKUPS_PER_KIND * len(C.LOOKUP_KINDS)
    offered_bytes = 0  # reads only

    def __init__(self, ctx: Context):
        self.lookups = Lookups(ctx)
        self.graph = Graph(ctx, self.lookups.plan.graph)
        self.curation = Curation(ctx)

    def is_request(self, i: int) -> bool:
        return i % self.cycle > len(C.GRAPH_JOBS)

    def setup(self) -> None:
        self.lookups.build()
        self.graph.wh = self.lookups.wh
        self.curation.build()
        self.input_bytes = self.lookups.input_bytes + self.curation.input_bytes

    def op(self, i: int) -> OpResult:
        k = i % self.cycle
        if k < len(C.GRAPH_JOBS):
            return self.graph.op(C.GRAPH_JOBS[k])
        if k == len(C.GRAPH_JOBS):
            return self.curation.op()
        return self.lookups.op()

    def final_check(self) -> list[str]:
        return []

    def stored_bytes(self) -> int:
        return dir_bytes(str(self.lookups.wh.root)) + dir_bytes(str(self.curation.root))

    def layer_metrics(self, tr: Tracer, ops: int) -> dict:
        return (self.lookups.layer_metrics(tr) | self.graph.layer_metrics(tr)
                | self.curation.layer_metrics(tr))


WORKLOADS = {w.name: w for w in (Ingest, Analytics)}

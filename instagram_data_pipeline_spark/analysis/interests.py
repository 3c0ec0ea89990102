"""U2 + the analysis lifecycle: validate model output, map category names
to ids, and upsert into the interests fact table.

Reference: validation drop of unknown categories
(``interest_analyzer.py:268-270``), name->id mapping via the dimension
dict (``:115-119``), upsert with refreshed confidence (``:275-280``).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..operators.relational import following_profiles, pending_users
from ..operators.writes import assign_dense_ids, upsert_keep_newest
from .categorizer import (
    MAIN_CATEGORIES,
    SUBCATEGORIES,
    Categorizer,
    categorize_following,
)


def default_categories(spark) -> DataFrame:
    """The reference's seeded taxonomy (18 main + 9 sub categories,
    interest_analyzer.py:40-110) with stable surrogate ids."""
    rows = []
    ids = {}
    for i, name in enumerate(MAIN_CATEGORIES, start=1):
        ids[name] = i
        rows.append((i, name, None, f"{name} related content"))
    for j, (name, parent) in enumerate(
        sorted(SUBCATEGORIES.items()), start=len(MAIN_CATEGORIES) + 1
    ):
        rows.append((j, name, ids[parent], f"{name} (sub of {parent})"))
    from ..schemas import INTEREST_CATEGORIES

    return spark.createDataFrame(rows, INTEREST_CATEGORIES)


def validate_results(
    results: DataFrame,
    interest_categories: DataFrame,
) -> DataFrame:
    """U2: keep only known categories (inner join doubles as the P8
    filter) and default missing confidence to 0.5.

    ``results`` must already carry the analyzed (pending) user's
    ``user_id``: the reference's ``_store_interest_results``
    (interest_analyzer.py:257-280) keys every categorized row on the
    pending user's id — it never resolves the followed account's
    username back to an id. Output is interests-shaped (sans
    id/created_at).
    """
    cats = F.broadcast(
        interest_categories.select("category_id", "category_name")
    )
    return (
        results.withColumn(
            "confidence", F.coalesce(F.col("confidence"), F.lit(0.5))
        )
        .join(cats, results.category == cats.category_name, "inner")
        .select(
            "user_id",
            "category_id",
            F.col("confidence").alias("confidence_score"),
        )
    )


def _categorize_edges(
    users: DataFrame,
    edges: DataFrame,
    interest_categories: DataFrame,
    categorizer: Categorizer | None,
) -> DataFrame:
    """Shared J2 -> U1 -> U2 tail: categorize the followed profiles of
    ``edges`` and attribute each result back to EVERY analyzed user
    following that account (the reference analyzes per user; results are
    stored under the analyzed user's id, interest_analyzer.py:209,257-280).
    """
    owners = (
        edges.alias("e")
        .join(users.alias("u"),
              F.col("e.following_id") == F.col("u.user_id"), "inner")
        .select(
            F.col("e.user_id").alias("user_id"),
            F.col("u.username").alias("username"),
        )
        .dropDuplicates(["user_id", "username"])
    )
    profiles = following_profiles(edges, users).dropDuplicates(["username"])
    results = categorize_following(profiles, categorizer)
    attributed = results.join(owners, "username", "inner").drop("username")
    return validate_results(attributed, interest_categories)


@dataclass(frozen=True)
class InterestMerge:
    """An interests upsert ready to store: the merged table contents and
    the size of the batch merged into it, known before the write."""

    table: DataFrame
    incoming: int  # (user, category) results merged
    new: int       # of those, keys the table did not hold before


def _upsert_interest_results(
    interests: DataFrame,
    validated: DataFrame,
    ts,
    next_id_start: int = 0,
) -> InterestMerge:
    """A1 tail of _store_interest_results (interest_analyzer.py:257-280):
    collapse per-key collisions, preserve SERIAL ids across the upsert,
    mint fresh ids for new keys."""
    # The reference's per-row ON CONFLICT keeps the last-processed result
    # when several followed accounts land in the same (user, category);
    # its scan order is unspecified, so collapse deterministically to the
    # max confidence per key.
    collapsed = validated.groupBy("user_id", "category_id").agg(
        F.max("confidence_score").alias("confidence_score")
    )
    # ON CONFLICT DO UPDATE preserves the row's SERIAL id: inherit the
    # existing surrogate id per key; brand-new keys get fresh ids below.
    prev_ids = interests.select(
        "user_id", "category_id", F.col("id").alias("_prev_id")
    )
    # Materialize the model's answers once: the counts, the id assignment
    # and the write all read these rows, so each followed profile goes
    # through the categorizer once per call, and a non-deterministic
    # model (a live LLM) cannot give the ids one set of answers and the
    # write another. The checkpoint's own job fills the counts. Its rows
    # live in executor storage (≤ analyzed users × categories of them).
    counts = Observation()
    incoming = (
        collapsed.withColumn("created_at", ts)
        .join(prev_ids, ["user_id", "category_id"], "left")
        .observe(
            counts,
            F.count(F.lit(1)).alias("incoming"),
            F.count_if(F.col("_prev_id").isNull()).alias("new"),
        )
        .localCheckpoint(eager=True)
    )
    n = counts.get
    if n["incoming"] == 0:
        return InterestMerge(interests, 0, 0)
    # max(id) is a footer-stats scan; the dense row_number only runs
    # over the new-key batch (≤ limit users × #cats).
    if next_id_start <= 0:
        max_id = interests.agg(F.max("id").alias("m")).first()["m"]
        next_id_start = int(max_id or 0) + 1
    have_id = incoming.filter(F.col("_prev_id").isNotNull()).withColumn(
        "id", F.col("_prev_id")
    )
    need_id = assign_dense_ids(
        incoming.filter(F.col("_prev_id").isNull()).drop("_prev_id"),
        "id",
        order_by=["user_id", "category_id"],
        start=next_id_start,
        rows=n["new"],
    )
    cols = ["id", "user_id", "category_id", "confidence_score", "created_at"]
    merged = upsert_keep_newest(
        interests,
        have_id.select(*cols).unionByName(need_id.select(*cols)),
        keys=["user_id", "category_id"],
        order_col="created_at",
    )
    return InterestMerge(merged, n["incoming"], n["new"])


def analyze_user_interests(
    users: DataFrame,
    following: DataFrame,
    interests: DataFrame,
    interest_categories: DataFrame,
    username: str,
    categorizer: Categorizer | None = None,
    now: dt.datetime | None = None,
    next_id_start: int = 0,
) -> DataFrame:
    """The reference's public per-user entry point
    (``analyze_user_interests``, interest_analyzer.py:140-214): no pending
    gate — re-analyzing a user refreshes confidences in place, preserving
    each row's surrogate id (ON CONFLICT DO UPDATE). Returns the merged
    interests table contents."""
    ts = F.lit(now or dt.datetime(2024, 1, 1)).cast("timestamp")
    target = users.filter(F.col("username") == username).select("user_id")
    edges = following.join(target, "user_id", "left_semi")
    validated = _categorize_edges(users, edges, interest_categories, categorizer)
    return _upsert_interest_results(interests, validated, ts, next_id_start).table


def merge_pending_interests(
    users: DataFrame,
    following: DataFrame,
    scrape_jobs: DataFrame,
    interests: DataFrame,
    interest_categories: DataFrame,
    categorizer: Categorizer | None = None,
    limit: int = 5,
    now: dt.datetime | None = None,
    next_id_start: int = 0,
) -> InterestMerge:
    """The --mode analysis lifecycle (SURVEY §3.3): J3 pending anti-join
    -> J2 profile join -> U1 model batches -> U2 validation -> A1 upsert.
    Returns the merged interests table with the batch's row counts."""
    ts = F.lit(now or dt.datetime(2024, 1, 1)).cast("timestamp")
    pending = pending_users(users, scrape_jobs, interests, limit=limit)
    # set-based version of the reference's per-user loop
    # (interest_analyzer.py:285-315): all pending users' following edges
    # flow through ONE model pass — same semantics, one job
    edges = following.join(
        pending.select("user_id"), "user_id", "left_semi"
    )
    validated = _categorize_edges(users, edges, interest_categories, categorizer)
    return _upsert_interest_results(interests, validated, ts, next_id_start)


def analyze_pending_users(
    users: DataFrame,
    following: DataFrame,
    scrape_jobs: DataFrame,
    interests: DataFrame,
    interest_categories: DataFrame,
    categorizer: Categorizer | None = None,
    limit: int = 5,
    now: dt.datetime | None = None,
    next_id_start: int = 0,
) -> DataFrame:
    """:func:`merge_pending_interests`, returning only the new interests
    table contents."""
    return merge_pending_interests(
        users, following, scrape_jobs, interests, interest_categories,
        categorizer=categorizer, limit=limit, now=now,
        next_id_start=next_id_start,
    ).table

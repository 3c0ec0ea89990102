"""Entry point 1 — the manual 5-stage DAG (SURVEY §3.1, main.py:55-83).

Stages: profile upsert -> follower edges -> following edges -> mutuals ->
interests. Live HTTP ingestion is out of engine scope (SURVEY §2.1 S6/S7);
each stage takes already-landed DataFrames (the batch-connector boundary)
and applies the reference's write semantics to the warehouse.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analysis.categorizer import Categorizer
from ..analysis.interests import default_categories, merge_pending_interests
from ..io import Warehouse
from ..operators.mutuals import mutual_edges
from ..operators.writes import (
    insert_if_absent,
    observe_count,
    upsert_keep_newest,
)
from ..schemas import REFERENCE_TABLES


class Pipeline:
    """The engine's pipeline facade over a Parquet warehouse.

    Construction mirrors InstagramPipeline.__init__ (main.py:26-39):
    ensure DDL, seed the category taxonomy, register views.
    """

    def __init__(self, spark: SparkSession, warehouse_root: str,
                 now: dt.datetime | None = None):
        self.spark = spark
        self.wh = Warehouse(spark, warehouse_root)
        self.now = now or dt.datetime(2024, 1, 1, 0, 0, 0)
        self.wh.ensure_tables(REFERENCE_TABLES)
        if self.wh.read("interest_categories").isEmpty():
            self.wh.write("interest_categories", default_categories(spark))

    def _ts(self):
        return F.lit(self.now).cast("timestamp")

    # -- stage 1: profile (S3 -> A1, instagram_scraper.py:173-225) --------
    def upsert_profiles(self, incoming: DataFrame) -> None:
        users = self.wh.read("users")
        merged = upsert_keep_newest(
            users,
            incoming.withColumn("last_updated", self._ts()),
            keys=["user_id"],
            order_col="last_updated",
        )
        self.wh.overwrite_atomic("users", merged)

    # -- stages 2+3: edges (S4/S5 -> A2 + stub users) ---------------------
    def append_edges(self, table: str, incoming: DataFrame,
                     edge_col: str) -> int:
        """Insert-if-absent edges + stub rows for unseen endpoint users
        (instagram_scraper.py:260-278: every endpoint gets a users row).

        Each delta is counted by the staged write that stores it, and an
        empty delta discards the staged copy: the table keeps its files.
        Returns the number of new edges."""
        users = self.wh.read("users")
        stub_ids = (
            incoming.select(F.col(edge_col).alias("user_id"))
            .union(incoming.select("user_id"))
            .dropDuplicates()
        )
        stubs = (
            stub_ids.join(users.select("user_id"), "user_id", "left_anti")
            .select(
                "user_id",
                F.col("user_id").alias("username"),  # stub: username=id
                F.lit(None).cast("string").alias("full_name"),
                F.lit(None).cast("string").alias("bio"),
                F.lit(None).cast("string").alias("profile_pic_url"),
                F.lit(None).cast("int").alias("follower_count"),
                F.lit(None).cast("int").alias("following_count"),
                F.lit(None).cast("boolean").alias("is_private"),
                self._ts().alias("last_updated"),
            )
        )
        # Stubs are usually none once the graph's users are known, so
        # materialize the (small) stub set and count it in that one pass,
        # rather than staging the whole users table only to drop it.
        stubs, n_stubs = observe_count(stubs)
        stubs = stubs.localCheckpoint(eager=True)
        if n_stubs():
            self.wh.overwrite_atomic("users", users.unionByName(stubs))
        existing = self.wh.read(table)
        new_edges, n_new = observe_count(
            insert_if_absent(existing, incoming, keys=["user_id", edge_col])
        )
        self.wh.overwrite_atomic(
            table, existing.unionByName(new_edges), keep=lambda: n_new() > 0
        )
        return n_new()

    # -- stage 4: mutuals (J1 -> A2, instagram_scraper.py:413-444) --------
    def derive_mutuals(self, user_id: str | None = None) -> int:
        followers = self.wh.read("followers")
        following = self.wh.read("following")
        derived = mutual_edges(followers, following, user_id=user_id).select(
            F.lit(None).cast("long").alias("id"),
            "user_id",
            "mutual_id",
            self._ts().alias("created_at"),
        )
        existing = self.wh.read("mutuals")
        new_rows, n_new = observe_count(  # G2: affected-rowcount metric
            insert_if_absent(existing, derived, ["user_id", "mutual_id"])
        )
        self.wh.overwrite_atomic(
            "mutuals", existing.unionByName(new_rows), keep=lambda: n_new() > 0
        )
        return n_new()

    # -- stage 5: interests (U1/U2 -> A1) ---------------------------------
    def analyze_interests(self, categorizer: Categorizer | None = None,
                          limit: int = 5) -> int:
        merge = merge_pending_interests(
            self.wh.read("users"),
            self.wh.read("following"),
            self.wh.read("scrape_jobs"),
            self.wh.read("interests"),
            self.wh.read("interest_categories"),
            categorizer=categorizer,
            limit=limit,
            now=self.now,
        )
        if merge.incoming:
            self.wh.overwrite_atomic("interests", merge.table)
        return merge.new

    # -- the 5-stage DAG --------------------------------------------------
    def run_manual(
        self,
        profile: DataFrame,
        followers: DataFrame,
        following: DataFrame,
        categorizer: Categorizer | None = None,
    ) -> dict[str, int]:
        """run_manual_scrape analog (main.py:55-83): five stages, each
        fully materialized before the next (same barrier semantics)."""
        self.upsert_profiles(profile)
        n_followers = self.append_edges("followers", followers, "follower_id")
        n_following = self.append_edges("following", following, "following_id")
        n_mutuals = self.derive_mutuals()
        n_interests = self.analyze_interests(categorizer)
        return {
            "followers": n_followers,
            "following": n_following,
            "mutuals": n_mutuals,
            "interests": n_interests,
        }

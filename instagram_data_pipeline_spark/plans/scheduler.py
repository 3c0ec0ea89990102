"""Entry point 2 — the queue-driven scheduler (SURVEY §3.2,
job_scheduler.py:29-164): DB-backed job queue with a daily quota, FIFO
batch dequeue, per-type dispatch, and the mutuals completeness trigger.

Deliberate fix vs the reference (SURVEY §3.2 quirk): dequeued jobs are
marked in_progress/completed/failed on the SAME ledger row —
exactly-once dequeue semantics instead of the reference's orphaned
pending rows.

The ledger is a tiny control table; every update is a
read-modify-overwrite (the Parquet analog of point UPDATEs). State that
must be transactional at scale moves to a table format or the streaming
checkpoint (SURVEY §2.9 T6) without changing this interface.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import Warehouse
from ..operators.relational import both_complete_users, dequeue_pending
from ..operators.writes import update_job_status

JOB_TYPES = ("profile", "followers", "following")


def _started_after(cutoff: dt.datetime, job_types: tuple[str, ...]):
    """P5 guard predicate: a scrape job of ``job_types`` started after
    ``cutoff``."""
    return F.col("job_type").isin(*job_types) & (
        F.col("started_at") > F.lit(cutoff).cast("timestamp")
    )


def enqueue_due(
    jobs: DataFrame,
    candidates: DataFrame,
    cutoff: dt.datetime,
    job_types: tuple[str, ...] = JOB_TYPES,
) -> DataFrame:
    """A7 core (job_scheduler.py:49-77), pure: job rows (sans ids) for
    every candidate username with NO scrape job started after ``cutoff``.

    ``candidates`` is a one-column (target_username) frame. The recent-set
    anti-join guards the 7-day dedup window; the job-type fan-out is a
    cross join against a literal 3-row frame (harmless at any scale)."""
    spark = candidates.sparkSession
    recent = (
        jobs.filter(_started_after(cutoff, job_types))
        .select("target_username")
        .dropDuplicates()
    )
    fresh = candidates.select("target_username").dropDuplicates().join(
        recent, "target_username", "left_anti"
    )
    return fresh.crossJoin(
        spark.createDataFrame([(t,) for t in job_types], "job_type string")
    ).select(
        "target_username",
        "job_type",
        F.lit("pending").alias("status"),
        F.lit(None).cast("timestamp").alias("started_at"),
        F.lit(None).cast("timestamp").alias("completed_at"),
        F.lit(None).cast("string").alias("last_cursor"),
        F.lit(None).cast("int").alias("total_items"),
        F.lit(0).alias("processed_items"),
        F.lit(None).cast("string").alias("error_message"),
    )


class JobScheduler:
    """Quota-gated FIFO scheduler over the scrape_jobs ledger."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: Warehouse,
        daily_quota: int = 200,   # job_scheduler.py:29
        batch_size: int = 10,     # job_scheduler.py:93
        now: dt.datetime | None = None,
    ):
        self.spark = spark
        self.wh = warehouse
        self.daily_quota = daily_quota
        self.batch_size = batch_size
        self.now = now or dt.datetime(2024, 1, 1, 0, 0, 0)

    def _jobs(self) -> DataFrame:
        return self.wh.read("scrape_jobs")

    # -- A7: conditional enqueue (job_scheduler.py:49-77) -----------------
    def enqueue_users(self, usernames: list[str]) -> int:
        """Enqueue the 3 scrape job types per user unless a job of any
        scrape type started within the last 7 days (P5 guard).

        One aggregate pass over the ledger finds its max ``job_id`` and
        which candidates were scraped recently; the ≤ 3 × users new rows
        are then built on the driver with dense ids in ``(username,
        job_type)`` order — the same rows :func:`enqueue_due` plus
        ``assign_dense_ids`` would produce, without running that plan."""
        candidates = sorted(set(usernames))
        if not candidates:
            return 0
        jobs = self._jobs()
        cutoff = self.now - dt.timedelta(days=7)
        seen = jobs.agg(
            F.coalesce(F.max("job_id"), F.lit(0)).alias("max_id"),
            F.collect_set(
                F.when(
                    F.col("target_username").isin(*candidates)
                    & _started_after(cutoff, JOB_TYPES),
                    F.col("target_username"),
                )
            ).alias("recent"),
        ).first()
        recent = set(seen["recent"])
        due = [
            (u, t) for u in candidates if u not in recent
            for t in sorted(JOB_TYPES)
        ]
        if not due:
            return 0
        new_jobs = self.spark.createDataFrame(
            [
                (job_id, u, t, "pending", None, None, None, None, 0, None)
                for job_id, (u, t) in enumerate(due, start=seen["max_id"] + 1)
            ],
            jobs.schema,
        ).coalesce(1)  # one partition, so the staged write adds one file
        self.wh.overwrite_atomic("scrape_jobs", jobs.unionByName(new_jobs))
        return len(due)

    # -- T3: daily quota (job_scheduler.py:29-47, 84-86) ------------------
    def quota_used_today(self) -> int:
        day = self.now.date()
        return (
            self._jobs()
            .filter(
                (F.to_date("started_at") == F.lit(day))
                & F.col("status").isin("completed", "failed", "in_progress")
            )
            .count()
        )

    # -- the tick (job_scheduler.py:79-154) -------------------------------
    def process_pending_jobs(
        self,
        handlers: dict[str, Callable[[str], None]],
        on_both_complete: Callable[[str], None] | None = None,
    ) -> dict[str, int]:
        """One scheduler tick: quota gate -> O1 FIFO dequeue -> dispatch
        -> ledger update -> T7 completeness trigger."""
        remaining = self.daily_quota - self.quota_used_today()
        if remaining <= 0:
            return {"dispatched": 0, "completed": 0, "failed": 0}
        batch = dequeue_pending(self._jobs(), min(remaining, self.batch_size))
        stats = {"dispatched": 0, "completed": 0, "failed": 0}
        rows = batch.collect()  # <=10 control rows — driver-side by design
        jobs = self._jobs()
        for row in rows:
            stats["dispatched"] += 1
            jobs = update_job_status(
                jobs, row.job_id, status="in_progress", completed_at=None
            ).withColumn(
                "started_at",
                F.when(
                    F.col("job_id") == row.job_id, F.lit(self.now).cast("timestamp")
                ).otherwise(F.col("started_at")),
            )
            try:
                handler = handlers[row.job_type]
                handler(row.target_username)
            except Exception as exc:  # noqa: BLE001 — A6 failure path
                jobs = update_job_status(
                    jobs, row.job_id, status="failed", error_message=str(exc)
                )
                stats["failed"] += 1
                continue
            jobs = update_job_status(
                jobs, row.job_id, status="completed", completed_at=self.now
            )
            stats["completed"] += 1
        self.wh.overwrite_atomic("scrape_jobs", jobs)
        # T7: after edge scrapes, fire mutuals when both types completed —
        # once per dequeued edge-job row of such a user, decided by one
        # query over the tick's users against the ledger just written
        edge_rows = [r for r in rows if r.job_type in ("followers", "following")]
        if on_both_complete and edge_rows:
            names = {r.target_username for r in edge_rows}
            done = {
                r.target_username
                for r in both_complete_users(
                    self._jobs().filter(F.col("target_username").isin(*names))
                ).collect()
            }
            for row in edge_rows:
                if row.target_username in done:
                    on_both_complete(row.target_username)
        return stats

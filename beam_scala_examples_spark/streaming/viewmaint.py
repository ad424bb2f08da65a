"""Incremental materialized-view maintenance for an enriched additive
rollup: the streaming twin of ``queries/behavior.py::
events_segment_revenue`` (daily purchase revenue by customer market
segment), maintained per micro-batch with zero driver state.

This completes the view-maintenance family alongside ``cdc.py``
(latest-state: max_by contributions) and ``sketchview.py`` (mergeable
sketches): revenue is ADDITIVE, so each micro-batch contributes exact
partial sums, folded into a versioned (segment, day) state
(``logio.fold_version``) that the serving view reads directly — the
textbook incremental-view-maintenance shape for SUM/COUNT rollups.

Scale posture:
 - The dimension join is the stream-static enrichment, hint-free per
   the broadcast policy (``enrich.py`` rationale: customer grows with
   SF) — AQE broadcasts it while it fits, so no shuffle of the event
   side and no state store in the common case.
 - Each batch folds into the state, which stays O(segments × days)
   however many batches have run: serving scans one version, and at
   most two versions are on disk.  The state is folded and served on
   one partition (``fold_version``'s bound; segments × days is small).
   With Delta/Iceberg the overwrite becomes a MERGE adding deltas to
   matched groups.
 - Contributions are EXACT integer cents, so maintenance is
   order/replay-independent: union-of-parts == one-shot aggregate,
   bit for bit (the mergeable-state payoff, here for plain SUM).
 - Version ``b`` folds onto the newest complete version below ``b``,
   so a replayed micro-batch re-derives exactly its own version —
   exactly-once maintenance under at-least-once delivery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.agg import cents
from .logio import fold_version, prune_versions


class SegmentRevenueViewSink:
    """foreachBatch sink maintaining the (segment, day) revenue view.

    Per micro-batch: enrich with the customer dim (hint-free join),
    map each purchase to its exact-cents contribution, fold the batch
    into the next version of the (segment, day) state
    (:func:`.logio.fold_version` — idempotent under replay), serve the
    view from that version, then drop the versions a replay can no
    longer need.
    """

    def __init__(self, dim: DataFrame, log_path: str, out_path: str):
        self.dim = dim.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
        self.log_path = log_path
        self.out_path = out_path

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            batch_df.filter(F.col("event_type") == "purchase")
            .join(self.dim, "user_id", "left")
            .select(
                "segment",
                F.date_trunc("day", "ts").alias("day"),
                F.lit(1).cast("long").alias("n_purchases"),
                cents("value").alias("rev_cents"),
            )
        )
        state = fold_version(partial, batch_id, self.log_path, _sum_revenue)
        state.select(
            "segment",
            "day",
            "n_purchases",
            F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
        ).write.mode("overwrite").parquet(self.out_path)
        prune_versions(batch_df.sparkSession, self.log_path, batch_id)


def _sum_revenue(rows: DataFrame) -> DataFrame:
    """Exact-cents addition, so the folded state equals the one-shot
    batch rollup bit for bit."""
    return rows.groupBy("segment", "day").agg(
        F.sum("n_purchases").alias("n_purchases"),
        F.sum("rev_cents").alias("rev_cents"),
    )

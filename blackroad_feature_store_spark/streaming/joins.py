"""Stream-stream joins with bounded state.

The streaming analogue of the batch point-in-time join family
(operators/asof.py): correlate two live event streams — e.g. raw
events with a feature-update stream, or impressions with conversions —
without ever holding unbounded state.

Spark-first: Structured Streaming's stream-stream equi-join with an
**event-time range condition and watermarks on both sides** is exactly
this operator. The range bound tells Spark how long a left row can
possibly still match (so it ages out of the join state), and the
watermarks bound how late either side may arrive. State per key is
O(rows within the watermark+interval horizon) — the property that
makes the join runnable forever. Without the range condition Spark
must keep *all* past rows of both sides; that variant is rejected here
by requiring ``max_delay``.

At 100 TB/day both sides shuffle on the join key once (the stateful
join co-partitions them); skewed keys are the same salting problem as
batch (operators/skew.py), applied to the key column before the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blackroad_feature_store_spark.streaming.partials import (
    start_foreach_batch,
    write_batch_partition,
)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "10 minutes",
    late_threshold: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Join each left event to right events for the same ``key`` whose
    timestamp falls in ``[left_ts, left_ts + max_delay]`` — the
    "conversion within N minutes of impression" shape.

    Both inputs must be streaming DataFrames with proper timestamp
    columns. Watermarks (``late_threshold``) are applied here; the
    range condition makes the join state self-cleaning. ``how`` may be
    ``inner`` or the watermark-gated outer variants Spark supports
    (``leftOuter``/``rightOuter``/``fullOuter``).

    Operational notes (both bit hard in testing — see
    test_stream_stream_interval_join_left_outer_*): size
    ``late_threshold`` with MARGIN over the real disorder bound — an
    event landing exactly at the watermark boundary can be dropped by
    the join's late filter, and micro-batch composition (hence where
    the watermark lands between batches) is not under your control.
    And outer-side NULL emissions fire only on a LATER
    watermark-advancing batch — an ``availableNow`` drain may end
    before that batch; the next run on the same checkpoint emits them.
    """
    lw = left.withWatermark(left_ts, late_threshold)
    rw = right.withWatermark(right_ts, late_threshold)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, how)


def enrich_with_features(
    stream: DataFrame,
    store,
    group_id: str,
    entity_col: str,
    features: list[str],
    as_of=None,
) -> DataFrame:
    """Stream-static feature lookup: join a live event stream against
    the store's latest feature snapshot per entity — online inference
    enrichment, the read-side twin of streaming ingest.

    The static side is resolved ONCE (snapshot isolation from the
    commit log: the file set is pinned at plan time; pass ``as_of`` to
    pin a historical snapshot instead of latest) and broadcast — each
    micro-batch probes an executor-local hash relation, no per-batch
    shuffle of the stream. Re-create the query to pick up newer
    features; at 100 TB the static side is one entity-latest row per
    entity, dimension-table-sized.
    """
    from datetime import datetime

    from pyspark.sql import functions as F

    from blackroad_feature_store_spark.operators.asof import latest_as_of

    if isinstance(as_of, str):
        as_of = datetime.fromisoformat(as_of)
    latest = latest_as_of(
        store.records_df(group_id, ts_lte=as_of),
        keys=["group_id", "entity_id"],
        as_of=as_of,
    ).select(
        F.col("entity_id").alias("__entity"),
        *[
            F.col("feature_values").getItem(f).alias(f"feature_{f}")
            for f in features
        ],
    )
    return stream.join(
        F.broadcast(latest),
        stream[entity_col] == F.col("__entity"),
        "left",
    ).drop("__entity")


def process_pit_enrich_batch(
    batch_df: DataFrame,
    batch_id: int,
    records: DataFrame,
    out_path: str,
    on,
    spine_ts_col: str,
    rec_ts_col: str = "timestamp",
    tiebreakers=("id",),
    tolerance: str | None = None,
) -> None:
    """One micro-batch of point-in-time-correct enrichment: each spine
    row joins the latest record snapshot at or before ITS OWN
    timestamp (`operators/asof.py::as_of_join` per-row branch) — the
    training-data generation semantics, where joining "latest" instead
    would leak future features into past examples (training/serving
    skew). ``records`` is a STATIC frame pinned when the stream starts
    (snapshot isolation); ``tolerance`` turns stale snapshots into
    NULLs instead of silently serving old features.

    The enriched batch lands in its own ``batch_id=`` partition with
    dynamic overwrite — foreachBatch replay after a crash between
    write and checkpoint commit rewrites identical rows, the same
    exactly-once recipe as the neardup/stats stores. No emptiness
    probe (r17): an empty spine enriches to zero rows, whose write
    still lands a schema-only part file and ``_SUCCESS`` in its
    ``batch_id=`` directory — one job per batch instead of two."""
    from blackroad_feature_store_spark.operators.asof import as_of_join

    enriched = as_of_join(
        batch_df,
        records,
        on=on,
        ts_col=rec_ts_col,
        as_of=spine_ts_col,
        tiebreakers=tuple(tiebreakers),
        how="left",
        tolerance=tolerance,
    )
    write_batch_partition(enriched, batch_id, out_path)


def start_pit_enrich_stream(
    spine: DataFrame,
    records: DataFrame,
    out_path: str,
    checkpoint: str,
    on,
    spine_ts_col: str,
    rec_ts_col: str = "timestamp",
    tiebreakers=("id",),
    tolerance: str | None = None,
    available_now: bool = False,
):
    """Start (or one-shot drain) the PIT enrichment stream: a live
    spine of events becomes point-in-time-correct training rows
    continuously. At 100 TB the per-batch cost is the batch as-of
    join's — the records are cut to the batch's keys by a broadcast
    semi join, then sorted per key with the batch's spine rows; no
    state is held in Spark between batches."""
    return start_foreach_batch(
        spine,
        lambda batch_df, batch_id: process_pit_enrich_batch(
            batch_df,
            batch_id,
            records,
            out_path,
            on=on,
            spine_ts_col=spine_ts_col,
            rec_ts_col=rec_ts_col,
            tiebreakers=tiebreakers,
            tolerance=tolerance,
        ),
        checkpoint,
        available_now,
    )

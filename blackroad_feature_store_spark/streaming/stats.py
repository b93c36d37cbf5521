"""Streaming incremental feature statistics — the monitoring half of a
feature store at ingest time: per-group running (count, nulls, sum,
min, max, mean) maintained over an unbounded stream of feature
writes, with exactly-once semantics under foreachBatch replay.

Design (reference parity: the batch ``FeatureStore.statistics`` in
``store.py`` recomputes over the full history — fine for a SQLite toy,
O(history) per refresh at 100 TB):

* each micro-batch writes its own MERGEABLE partial aggregate —
  (group, n, n_null, sum, min, max) — into its own ``batch_id``
  partition. Per-batch cost is O(batch), never O(history), and the
  write overwrites only the batch's own partition, so foreachBatch's
  replay-after-crash re-delivers bit-identical partials instead of
  double counting;
* the CURRENT stats are the fold of all live partials (sum of n/sum,
  min of min, max of max — the classic commutative-monoid shape),
  an O(groups × live batches) read-side merge;
* :func:`compact_stats` folds committed prefixes into one partition
  behind an atomically-flipped marker file — crash-safe without a
  distributed transaction — keeping the merge O(groups + recent).

The store protocol (layout ``batches/batch_id=<k>``,
``compacted/floor=<k>``, ``_compaction.json``; listing, live reads,
the clamp, the marker flip) is `streaming/partials.py`'s, shared by
every store kind. This module names the monoids of its store kinds —
``MOMENTS``, ``COUNTS`` (histograms and count-min sketches) and
``SKETCH_UNION`` (HLL) — next to their ``process_*``/``merge_*``
pairs. Every store path may be a plain path or a scheme'd URI
(``s3a://``, ``hdfs://``, ``file://``…).

* min/max/count/null-count are exactly associative; ``sum`` over
  doubles reassociates (IEEE), so consumers comparing against a
  batch recomputation should round (the catalog query pins parity at
  6 decimal places, as the rest of the float-agg suite does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from blackroad_feature_store_spark.streaming.partials import (
    Monoid,
    PartialStore,
    keyed_fold,
    start_foreach_batch,
)


def partial_stats(
    batch: DataFrame,
    group_cols: list[str],
    value_col: str | list[str],
) -> DataFrame:
    """The mergeable per-batch partial: one row per group with
    (n, n_null, sum, min, max) of ``value_col``. count/min/max/sum
    all map-side combine, so the only exchange is |groups|-sized.

    ``value_col`` may be a LIST of numeric columns — the
    feature-store shape, monitoring every feature of a write in one
    pass. Multi-column partials melt to long form first (an extra
    ``feature`` key column, values cast to double for a uniform
    schema), so one batch row contributes one partial row per
    feature; downstream :func:`merge_stats` needs no change because
    ``feature`` folds like any other group column. The melt is a
    narrow per-row ``stack`` — the exchange stays
    |groups × features|-sized, not |rows|."""
    if not isinstance(value_col, str):
        # A LIST always produces the long-form schema with a
        # ``feature`` key column — even a single-element list. A
        # len-1 shortcut to the scalar schema would mean a monitored
        # feature list shrinking to one feature across a stream
        # restart lands a SECOND, incompatible schema in the same
        # batches/ directory and the fold mis-merges.
        cols = list(value_col)
        melted = batch.select(
            *group_cols,
            F.explode(
                F.map_from_arrays(
                    F.array(*[F.lit(c) for c in cols]),
                    F.array(*[F.col(c).cast("double") for c in cols]),
                )
            ).alias("feature", "__v"),
        )
        return partial_stats(melted, [*group_cols, "feature"], "__v")
    v = F.col(value_col)
    return batch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(v.isNull(), 1).otherwise(0)).alias("n_null"),
        F.sum(v).alias("sum_value"),
        F.min(v).alias("min_value"),
        F.max(v).alias("max_value"),
    )


def process_stats_batch(
    batch_df: DataFrame,
    batch_id: int,
    stats_path: str,
    group_cols: list[str],
    value_col: str | list[str],
) -> None:
    """One micro-batch: write this batch's partial aggregate into its
    own ``batch_id=`` partition. Module-level so replay idempotence is
    directly testable: running it twice with the same ``batch_id``
    (exactly what foreachBatch does after a crash between write and
    checkpoint commit) dynamically overwrites the same partition with
    the same rows — the store never double counts.

    No up-front emptiness probe (r17 — VERDICT r16 ask #1: every
    extra per-batch action is a scheduler round-trip on every batch
    of every stream): with grouping columns, an empty batch's partial
    has ZERO rows, so it adds nothing to any fold. Its write still
    lands ``batch_id=<k>/`` with a schema-only part file and
    ``_SUCCESS`` (``write_batch_partition`` is a plain overwrite of
    that directory), which counts as a committed batch and is listed
    by every live read until compaction. Only the degenerate
    corpus-wide shape (``group_cols == []``, a global aggregate that
    emits one row even over nothing) still needs the probe to keep a
    zero-count row out of the store."""
    if not group_cols and batch_df.isEmpty():
        return
    partial = partial_stats(batch_df, group_cols, value_col)
    PartialStore(batch_df.sparkSession, stats_path, MOMENTS).write(
        partial, batch_id
    )


def _reject_mixed_generations(live: DataFrame) -> None:
    """The moment store's guard against two partial schemas in one
    store. Read with schema merging (see ``MOMENTS``), partials of the
    scalar shape (no ``feature`` column — written by a pre-r11
    single-element-list shortcut) surface next to long-form ones as
    feature=NULL rows; folding them would mis-merge across features,
    so they raise instead (ADVICE r10 #3). Migration: rewrite
    pre-upgrade scalar partials into long form (add the constant
    ``feature`` column) or compact the old store before pointing the
    new writer at it."""
    if "feature" in live.columns and not live.where(
        F.col("feature").isNull()
    ).isEmpty():
        raise ValueError(
            "stats store mixes the scalar partial schema (no 'feature' "
            "column — written by a pre-r11 version's single-element "
            "value_col list) with the long-form schema; folding them "
            "would mis-merge across features. Migrate the old batch "
            "partitions to long form (add the constant 'feature' "
            "column) before merging."
        )


# Moment fold: counts and sums add, extrema take min/max — every
# column that is not one of these is a group key.
MOMENTS = Monoid(
    fold=keyed_fold(
        n=F.sum,
        n_null=F.sum,
        sum_value=F.sum,
        min_value=F.min,
        max_value=F.max,
    ),
    kind="moments",
    merge_schema=True,
    check=_reject_mixed_generations,
)


def merge_stats(spark: SparkSession, stats_path: str) -> DataFrame:
    """Fold every live partial into the current per-group statistics:
    (group, n, n_null, sum_value, min_value, max_value, mean_value).
    Monoid fold — order-independent, so compaction never changes the
    result. Missing store raises (there is nothing meaningful to
    report before the first batch; callers wanting empty-on-missing
    can catch AnalysisException)."""
    return PartialStore(spark, stats_path, MOMENTS).merged().withColumn(
        "mean_value",
        F.when(
            F.col("n") - F.col("n_null") > 0,
            F.col("sum_value") / (F.col("n") - F.col("n_null")),
        ),
    )


def compact_stats(
    spark: SparkSession, stats_path: str, upto_batch: int
) -> None:
    """Fold the moment store's live partials with ``batch_id <=
    upto_batch`` (plus the previous compacted fold) into ONE compacted
    partition and retire the originals — the maintenance valve that
    keeps :func:`merge_stats` O(groups + recent batches) instead of
    O(groups × all batches ever). Crash-safe behind the marker flip;
    ``upto_batch`` is clamped to the newest committed batch write, so
    a future batch id compacts everything written and nothing more, and with
    nothing above the floor the call is a no-op (the protocol:
    `streaming/partials.py`). Only compact checkpoint-committed
    batches. Other store kinds compact through their own monoid:
    ``PartialStore(spark, path, COUNTS).compact(upto)`` for histograms
    and CMS, ``SKETCH_UNION`` for HLL."""
    PartialStore(spark, stats_path, MOMENTS).compact(upto_batch)


# Histogram and count-min cells: counts add per (key…, bin) / (row, col).
COUNTS = Monoid(fold=keyed_fold(n=F.sum), kind="counts")


def partial_histogram(
    batch: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Mergeable per-batch histogram: (group…, bin, n) with values
    clamped into the edge bins (total-mass-correct under range drift)
    and NULLs excluded — the same binning contract as the batch
    ``operators/stats.py::population_stability``. Bin edges are FIXED
    parameters: that is what makes the counts a commutative monoid
    across batches (adaptive edges would not merge)."""
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    v = F.col(value_col)
    width = (hi - lo) / n_bins
    bin_ = F.least(
        F.greatest(F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("int")
    return (
        batch.where(v.isNotNull())
        .groupBy(*group_cols, bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def process_hist_batch(
    batch_df: DataFrame,
    batch_id: int,
    hist_path: str,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
) -> None:
    """One micro-batch of incremental histogram maintenance — same
    batch_id-partition dynamic overwrite as the moment stats, so
    foreachBatch replay is idempotent. No emptiness probe (r17): the
    ``bin`` grouping key means an empty batch's partial is zero rows
    (its write still lands a schema-only part file and ``_SUCCESS``,
    a committed batch every live read lists) — one job per batch
    instead of two."""
    partial = partial_histogram(
        batch_df, group_cols, value_col, lo, hi, n_bins
    )
    PartialStore(batch_df.sparkSession, hist_path, COUNTS).write(
        partial, batch_id
    )


def merge_histogram(spark: SparkSession, hist_path: str) -> DataFrame:
    """Fold live histogram partials: (group…, bin, n) — the ``COUNTS``
    store; compact it with ``PartialStore(spark, hist_path,
    COUNTS).compact(upto)``."""
    return PartialStore(spark, hist_path, COUNTS).merged()


def psi_vs_baseline(
    current: DataFrame,
    baseline: DataFrame,
    key_cols: list[str],
    n_bins: int,
    eps: float = 0.5,
) -> DataFrame:
    """Population Stability Index of an incrementally-maintained
    histogram against a PINNED baseline histogram — drift monitoring
    without ever rescanning history. Both inputs are (key…, bin, n)
    frames (:func:`merge_histogram` output, or any batch histogram
    with the same binning). The algebra is identical to the batch
    ``population_stability``: Laplace ``eps`` per bin, the bin frame
    COMPLETED over keys present in either side (missing bins must
    contribute their smoothed term or PSI biases low), and

        PSI = Σ_bins (p_ref − p_cur) · ln(p_ref / p_cur)

    Returns one row per key: (key…, n_ref, n_cur, psi) with psi
    rounded to 6 decimals (cross-engine float determinism).

    Scale shape: everything downstream of the inputs operates on
    |keys × bins| rows — keys-union, an ``explode(sequence())`` bin
    frame, two left joins, one aggregation. No scan of raw data."""
    cur = current.groupBy(*key_cols, "bin").agg(
        F.sum("n").alias("n_cur")
    )
    ref = baseline.groupBy(*key_cols, "bin").agg(
        F.sum("n").alias("n_ref")
    )
    keys = (
        cur.select(*key_cols)
        .unionByName(ref.select(*key_cols))
        .distinct()
    )
    frame = keys.withColumn(
        "bin", F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1)))
    )
    f = (
        frame.join(ref, [*key_cols, "bin"], "left")
        .join(cur, [*key_cols, "bin"], "left")
        .fillna(0, subset=["n_ref", "n_cur"])
    )
    tot = f.groupBy(*key_cols).agg(
        F.sum("n_ref").alias("__tot_ref"),
        F.sum("n_cur").alias("__tot_cur"),
    )
    j = f.join(tot, key_cols)
    p_ref = (F.col("n_ref") + F.lit(eps)) / (
        F.col("__tot_ref") + F.lit(eps * n_bins)
    )
    p_cur = (F.col("n_cur") + F.lit(eps)) / (
        F.col("__tot_cur") + F.lit(eps * n_bins)
    )
    return j.groupBy(*key_cols).agg(
        F.sum("n_ref").cast("long").alias("n_ref"),
        F.sum("n_cur").cast("long").alias("n_cur"),
        F.round(
            F.sum((p_ref - p_cur) * F.log(p_ref / p_cur)), 6
        ).alias("psi"),
    )


def start_stats_stream(
    records: DataFrame,
    stats_path: str,
    checkpoint: str,
    group_cols: list[str],
    value_col: str | list[str],
    available_now: bool = False,
) -> StreamingQuery:
    """Start (or one-shot drain) the incremental stats maintainer over
    a streaming DataFrame of feature writes. The stats store at
    ``stats_path`` is readable via :func:`merge_stats` without
    blocking ingest, and ingest never recomputes history.

    Read-consistency caveat: batch-partition parquet writes and
    compact_stats' post-flip deletions are NOT atomic to concurrent
    readers — a merge racing a batch commit can transiently observe a
    partially-written ``batch_id=`` partition, and one racing
    compaction cleanup can observe a half-deleted retired partition.
    The marker-file flip makes the compaction DECISION atomic, not
    the file listing. Monitoring readers should either tolerate a
    transiently-stale merge and re-read, or snapshot between
    micro-batches (e.g. after an ``availableNow`` drain returns, as
    the catalog queries do). Crash-recovery correctness is unaffected:
    replay rewrites the same partition and live reads ignore
    anything not referenced by the marker."""
    return start_foreach_batch(
        records,
        lambda batch_df, batch_id: process_stats_batch(
            batch_df,
            batch_id,
            stats_path,
            group_cols=group_cols,
            value_col=value_col,
        ),
        checkpoint,
        available_now,
    )


def process_cms_batch(
    batch_df: DataFrame,
    batch_id: int,
    cms_path: str,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
) -> None:
    """One micro-batch of incremental count-min maintenance
    (`operators/stats.py::cms_sketch`): the batch's (row, col, n)
    partial lands in its own batch_id partition — cell counts are a
    commutative monoid, the ``COUNTS`` store (compact it with
    ``PartialStore(spark, cms_path, COUNTS).compact(upto)``). Replay
    idempotence by per-batch partition overwrite, as everywhere.
    No emptiness probe (r17): the sketch groups by (row, col), so an
    empty batch yields zero cells (its write still lands a schema-only
    part file and ``_SUCCESS``, a committed batch every live read
    lists) — one job per batch instead of two."""
    from blackroad_feature_store_spark.operators.stats import cms_sketch

    partial = cms_sketch(
        batch_df, key_col, depth=depth, width=width,
        weight_col=weight_col,
    )
    PartialStore(batch_df.sparkSession, cms_path, COUNTS).write(
        partial, batch_id
    )


def merge_cms(spark: SparkSession, cms_path: str) -> DataFrame:
    """Fold the live CMS partials into one sketch (row, col, n);
    query it with `operators/stats.py::cms_estimate`."""
    return PartialStore(spark, cms_path, COUNTS).merged()


# HLL sketches: union per key — associative AND idempotent.
SKETCH_UNION = Monoid(
    fold=keyed_fold(sketch=F.hll_union_agg), kind="sketch_union"
)


def process_hll_batch(
    batch_df: DataFrame,
    batch_id: int,
    hll_path: str,
    keys: list[str],
    col: str,
    lgk: int = 12,
) -> None:
    """One micro-batch of incremental distinct-count maintenance
    (`operators/stats.py::hll_sketches`): the batch's per-key HLL
    sketches land in their own batch_id partition. Sketch union is
    associative and IDEMPOTENT, so this store is the best-behaved of
    the family: replay cannot double count even in principle, and
    the ``SKETCH_UNION`` store compacts with
    ``PartialStore(spark, hll_path, SKETCH_UNION).compact(upto)``.
    The emptiness probe
    (r17) survives only for the keyless corpus-wide shape — with
    grouping keys an empty batch's partial has zero rows, which adds
    nothing to the union (its write still lands a schema-only part
    file and ``_SUCCESS``, a committed batch every live read lists),
    so the probe was a pure extra job per batch."""
    from blackroad_feature_store_spark.operators.stats import hll_sketches

    if not keys and batch_df.isEmpty():
        return
    partial = hll_sketches(batch_df, keys, col, lgk=lgk)
    PartialStore(batch_df.sparkSession, hll_path, SKETCH_UNION).write(
        partial, batch_id
    )


def merge_hll(spark: SparkSession, hll_path: str) -> DataFrame:
    """Fold the live sketch partials into one sketch per key; estimate
    with ``F.hll_sketch_estimate`` or roll up further with
    `operators/stats.py::hll_rollup`."""
    return PartialStore(spark, hll_path, SKETCH_UNION).merged()

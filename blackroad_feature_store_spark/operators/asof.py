"""As-of (point-in-time) operators.

The signature operator of the reference engine: "latest snapshot with
timestamp <= t per key" (``feature_store.py:391-405``) and the
point-in-time join built on it (``feature_store.py:411-448``). The
reference runs one indexed SQLite point query per (entity × group)
pair; here the same semantics are ONE distributed plan per form.

Global cutoff (``as_of`` a literal)::

    filter(ts <= t)                      -- pushed to the parquet scan
    window row_number over (key, ts desc) == 1   -- top-1 per key
    left join onto the spine             -- broadcast if spine is small

Per-row cutoff (``as_of`` a spine column)::

    records left-semi spine keys         -- broadcast if spine is small
    spine rows ∪ those records           -- tagged, one shuffle on the key
    sort per key by (instant, records before spine rows, tiebreakers)
    last(record struct, ignorenulls) over ROWS UNBOUNDED PRECEDING

Driver form (:func:`latest_as_of_arrow`, the serving reads)::

    filter(key in keys, ts <= t)         -- per Arrow table, in pyarrow
    max of (ts, tiebreaker) per key      -- one pass, no Spark job

Scale notes (100 TB): the ts filter and key filters reach the scan via
predicate pushdown + partition pruning (records are partitioned by
group_id). In the global form, when the spine is a small entity list,
Spark's size estimate makes it the broadcast side automatically; we
also expose ``broadcast_spine`` to force it. The per-row form is
O((S+R') log) at any history depth, R' being the records whose key is
in the spine: it never builds the (spine row, record) candidate-pair
set and runs entirely in the JVM. Trade-offs: every record of a
spine key crosses the shuffle (the candidate-pair plan it replaced
shuffled about one row per spine row per map partition), and the
spine is read twice (its keys for the semi join, its rows for the
union). A spine too large to broadcast, or one Spark cannot size
(built from Python rows rather than a scan), makes the semi join a
sort-merge join, a second shuffle of the records. A hot key's whole
history and all its spine rows are sorted by one task; AQE splits
skewed sort-merge-join partitions, not window partitions, so that
task is not split.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from typing import Any, Hashable, Iterable, Optional, Sequence

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


_EPOCH = datetime(1970, 1, 1)


def epoch_micros(ts: datetime) -> int:
    """Microseconds since 1970-01-01 UTC on the proleptic Gregorian
    calendar, the one Spark and Arrow store; a naive ``ts`` is UTC."""
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    return (ts - _EPOCH) // timedelta(microseconds=1)


def _cutoff_literal(as_of: datetime | str | Column) -> Column:
    """An as-of bound as a Column. A ``datetime`` is built from its
    epoch microseconds: ``F.lit(datetime)`` converts through
    ``java.sql.Timestamp``, whose hybrid Julian calendar moves a
    pre-1582 instant by days, and reads a naive value in the driver's
    local zone. The constant folds to a plain timestamp literal, so
    the scan still receives it as a pushed filter."""
    if isinstance(as_of, Column):
        return as_of
    if isinstance(as_of, datetime):
        return F.timestamp_micros(F.lit(epoch_micros(as_of)))
    return F.lit(as_of)


def latest_as_of(
    records: DataFrame,
    keys: Sequence[str],
    ts_col: str = "timestamp",
    as_of: datetime | str | Column | None = None,
    tiebreakers: Sequence[str] = ("id",),
    tolerance: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Top-1 snapshot per key: the newest row with ``ts_col <= as_of``.

    Deterministic under timestamp ties via ``tiebreakers`` (the
    reference's ``ORDER BY timestamp DESC LIMIT 1`` leaves ties
    unspecified — SURVEY.md §2.3 pins them down with the record id):
    ts desc, then each tiebreaker desc, NULLs last (``"forward"``:
    all ascending, as Spark's ``asc()`` orders, NULLs first).

    The pick is a window ``row_number`` per key (one shuffle on the
    key); empty ``keys`` makes the whole frame one window.

    A ``datetime`` cutoff is UTC when naive and becomes a literal
    through :func:`_cutoff_literal`, exact for any year.

    ``tolerance`` (an interval string like ``"90 days"``, requires
    ``as_of``) additionally excludes snapshots older than
    ``as_of - tolerance`` — pandas ``merge_asof(tolerance=...)``
    semantics: a stale snapshot is treated as no snapshot. The bound
    is a second pushdown-able range predicate, so at scale it PRUNES
    the scan rather than adding work.

    ``direction="forward"`` flips the operator into LABEL extraction:
    the EARLIEST row with ``ts_col >= as_of`` per key (ties by
    ascending tiebreakers), with ``tolerance`` bounding how far ahead
    to look — "the next purchase within 7 days of the cutoff", the
    standard forward-label join of supervised training sets.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction!r}")
    df = records
    if tolerance is not None and as_of is None:
        raise ValueError("tolerance requires as_of")
    if direction == "forward" and as_of is None:
        raise ValueError("direction='forward' requires as_of")
    if as_of is not None:
        as_of_expr = _cutoff_literal(as_of)
        if direction == "backward":
            df = df.where(F.col(ts_col) <= as_of_expr)
            if tolerance is not None:
                df = df.where(
                    F.col(ts_col)
                    >= as_of_expr.cast("timestamp")
                    - F.expr(f"INTERVAL {tolerance}")
                )
        else:  # forward: the EARLIEST record at or after the cutoff
            df = df.where(F.col(ts_col) >= as_of_expr)
            if tolerance is not None:
                df = df.where(
                    F.col(ts_col)
                    <= as_of_expr.cast("timestamp")
                    + F.expr(f"INTERVAL {tolerance}")
                )
    if direction == "backward":
        order = [F.col(ts_col).desc()] + [
            F.col(c).desc() for c in tiebreakers if c in df.columns
        ]
    else:
        order = [F.col(ts_col).asc()] + [
            F.col(c).asc() for c in tiebreakers if c in df.columns
        ]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_as_of_arrow(
    parts: Iterable[tuple[Hashable, pa.Table]],
    key: str,
    want: Sequence[str],
    value: str,
    as_of: Optional[datetime] = None,
    ts_col: str = "timestamp",
    tiebreaker: str = "id",
) -> dict[tuple[Hashable, Any], Any]:
    """Driver form of :func:`latest_as_of` over Arrow tables, for reads
    small enough that a Spark job would cost more than the scan: the
    newest row per ``(part, key)`` among rows whose ``key`` is in
    ``want`` and whose ``ts_col <= as_of``, mapped to its ``value``.

    The tie rule is the window form's: ts desc, then ``tiebreaker``
    desc, NULLs last. A NULL-ts row never passes a cutoff; with no
    cutoff it wins only when every row of its key is NULL-ts.
    ``ts_col`` may hold any timestamp unit, zoned or naive; it is
    compared in epoch microseconds, the precision Spark keeps, and a
    naive ``as_of`` is UTC.
    """
    want_arr = pa.array(sorted(set(want)), pa.string())
    cutoff = None if as_of is None else epoch_micros(as_of)
    best: dict[tuple[Hashable, Any], tuple[tuple, Any]] = {}
    for part, tbl in parts:
        col = tbl[ts_col]
        ts = pc.cast(
            col, pa.timestamp("us", tz=col.type.tz), safe=False
        ).cast(pa.int64())
        keep = pc.is_in(tbl[key], value_set=want_arr)
        if cutoff is not None:
            keep = pc.and_(keep, pc.less_equal(ts, cutoff))
        hits = tbl.filter(keep)
        for k, tb, t, v in zip(
            hits[key].to_pylist(),
            hits[tiebreaker].to_pylist(),
            ts.filter(keep).to_pylist(),
            hits[value].to_pylist(),
        ):
            rank = (t is not None, t, tb is not None, tb)
            cur = best.get((part, k))
            if cur is None or rank > cur[0]:
                best[(part, k)] = (rank, v)
    return {pk: v for pk, (_, v) in best.items()}


def as_of_join(
    spine: DataFrame,
    records: DataFrame,
    on: str | Sequence[str],
    ts_col: str = "timestamp",
    as_of: datetime | str | Column | None = None,
    tiebreakers: Sequence[str] = ("id",),
    how: str = "left",
    broadcast_spine: bool = False,
    tolerance: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Join each spine row to the latest record snapshot as of a time
    (``direction="forward"``: to the EARLIEST record at/after it — the
    label join; global-cutoff form only).

    * ``as_of`` a literal → one global cutoff (the reference CLI case):
      :func:`latest_as_of`, then a ``how`` join onto the spine
      (``broadcast_spine`` forces the spine to the broadcast side).
    * ``as_of`` = a column name present in ``spine`` → per-row cutoff
      (classic training-set point-in-time correctness), ``how`` in
      ``left``/``inner``: one sort per key over the spine rows and the
      records together (see :func:`_as_of_per_row`), so each spine row
      sees only records at or before its own instant. Output columns
      are the spine's, then the records' minus the keys; a name on both
      sides raises ``ValueError``.
    * ``tolerance`` (interval string) → snapshots older than
      ``as_of - tolerance`` don't match (stale features become NULLs
      under a left join instead of silently serving old data),
      inclusive at the boundary.
    """
    on_cols = [on] if isinstance(on, str) else list(on)

    if isinstance(as_of, str) and as_of in spine.columns:
        if direction != "backward":
            raise ValueError(
                "direction='forward' supports the global-cutoff form only "
                "(per-row forward labels: call latest_as_of per cutoff)"
            )
        return _as_of_per_row(
            spine, records, on_cols, as_of, ts_col, tiebreakers, how,
            tolerance,
        )

    latest = latest_as_of(
        records, on_cols, ts_col, as_of, tiebreakers,
        tolerance=tolerance, direction=direction,
    )
    s = F.broadcast(spine) if broadcast_spine else spine
    return s.join(latest, on=on_cols, how=how)


def _per_row_payload(
    spine: DataFrame,
    records: DataFrame,
    on_cols: list[str],
    as_of_col: str,
) -> list[str]:
    """The record columns a per-row as-of join appends to each spine
    row (all but the keys), after the checks both per-row forms share:
    the spine has ``as_of_col`` and no payload name is a spine column.
    """
    if as_of_col not in spine.columns:
        raise ValueError(f"spine has no column {as_of_col!r}")
    payload = [c for c in records.columns if c not in on_cols]
    overlap = set(payload) & set(spine.columns)
    if overlap:
        raise ValueError(
            f"column collision between spine and records: {sorted(overlap)}"
        )
    return payload


def _as_of_per_row(
    spine: DataFrame,
    records: DataFrame,
    on_cols: list[str],
    as_of_col: str,
    ts_col: str,
    tiebreakers: Sequence[str],
    how: str,
    tolerance: str | None,
) -> DataFrame:
    """The per-row as-of join as one sort-based plan.

    Records are cut to the spine's keys by a left semi join; spine rows
    and those records are then tagged and unioned, shuffled once on the
    key, and ordered per key by (instant, records before spine rows at
    equal instants, tiebreakers ascending). Each spine row then takes
    the last non-NULL record struct at or before it, so the winner is
    the record with the greatest ts <= the spine row's instant and, at
    equal ts, the greatest tiebreaker (NULL tiebreakers sort first and
    lose, as under a DESC top-1). The instants are compared in the type
    the union widens them to, which under ANSI type coercion (the
    session default) is the type ``<=`` coerces the two sides to, e.g.
    a ``date`` instant against a ``timestamp`` ts compares as
    ``timestamp``.

    ``tolerance`` is applied after the pick: the latest record at or
    before the instant is stale only if every earlier one is too.
    """
    if how not in ("left", "inner"):
        raise ValueError(
            f"per-row as_of_join supports how=left|inner: {how!r}"
        )
    payload = _per_row_payload(spine, records, on_cols, as_of_col)
    ties = [c for c in tiebreakers if c in records.columns]
    tie_types = [records.schema[c].dataType for c in ties]
    # NULL placeholders typed from the already-resolved schemas: no
    # extra analysis of either side's plan.
    spine_t = T.StructType(spine.schema.fields)
    rec_t = T.StructType([records.schema[c] for c in payload])

    tagged_spine = spine.select(
        *on_cols,
        F.col(as_of_col).alias("__t"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(t).alias(f"__tb{i}") for i, t in enumerate(tie_types)],
        F.struct(*spine.columns).alias("__s"),
        F.lit(None).cast(rec_t).alias("__r"),
    )
    # Only records whose key some spine row has reach the shuffle: the
    # semi join is a map-side broadcast probe when the spine is small
    # (a micro-batch, an entity list), so a deep history is cut to the
    # spine's keys before it is sorted. It also drops NULL keys, which
    # never match. A NULL-ts record would sort first (nulls first)
    # where every spine row of its key could pick it, so it is dropped
    # too; a spine row with a NULL instant sorts before every record,
    # so it never matches.
    tagged_records = (
        records.where(F.col(ts_col).isNotNull())
        .join(spine.select(*on_cols), on_cols, "left_semi")
        .select(
            *on_cols,
            F.col(ts_col).alias("__t"),
            F.lit(0).alias("__side"),
            *[F.col(c).alias(f"__tb{i}") for i, c in enumerate(ties)],
            F.lit(None).cast(spine_t).alias("__s"),
            F.struct(*payload).alias("__r"),
        )
    )
    w = (
        Window.partitionBy(*on_cols)
        .orderBy("__t", "__side", *[f"__tb{i}" for i in range(len(ties))])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    picked = tagged_spine.unionByName(tagged_records).select(
        "__side",
        "__s",
        F.last("__r", ignorenulls=True).over(w).alias("__r"),
    )
    rec, keep = F.col("__r"), F.col("__side") == 1
    if tolerance is not None:
        rec = F.when(
            rec[ts_col]
            >= F.col("__s")[as_of_col].cast("timestamp")
            - F.expr(f"INTERVAL {tolerance}"),
            rec,
        )
    if how == "inner":
        keep = keep & rec.isNotNull()
    out = picked.where(keep)
    if tolerance is not None:  # a stale pick becomes a NULL payload
        out = out.select("__s", rec.alias("__r"))
    return out.select("__s.*", "__r.*")


def gapfill_locf(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    step: str = "INTERVAL 1 HOUR",
    bucket_trunc: str = "hour",
    fill: str = "locf",
) -> DataFrame:
    """Regularize an irregular time series per key: bucket, fill the
    missing buckets, carry the last observation forward (TimescaleDB's
    ``time_bucket_gapfill`` + ``locf``, Pandas' ``resample().ffill()``
    — the step every feature pipeline needs between raw events and a
    fixed-frequency model input).

    Per key the grid spans [min bucket, max bucket] of that key's OWN
    observations (no global range — a key active for a day never emits
    a year of gap rows). Output per (key, bucket):
    ``bucket_value`` (the aggregated observation, NULL on gaps),
    ``filled_value`` (LOCF), ``is_gap`` (1 on synthesized rows).

    ``fill="interp"`` linearly interpolates gaps between the
    surrounding observations instead of carrying the last one forward
    (pandas ``resample().interpolate()``): each gap row gets
    ``v0 + (v1 - v0) * (t - t0) / (t1 - t0)`` from the nearest
    observed buckets on each side. Interior gaps only — a grid always
    starts and ends on observations, so no extrapolation arises.

    Scale shape: one aggregation to buckets (map-side combinable), a
    per-key min/max (same shuffle key, AQE-coalesced), the grid
    generated by ``sequence()`` + ``explode`` INSIDE each key's row —
    no crossJoin against a calendar table — and one window sort per
    key for the fill (two passes for interp: previous and next
    observation). Grid size is Σ per-key span/step; keys partition
    independently, so a 100 TB corpus fills in parallel. Sums run
    through DECIMAL so partial-agg order can't move the filled
    values.
    """
    if fill not in ("locf", "interp"):
        raise ValueError(f"fill must be locf|interp: {fill!r}")
    ks = list(keys)
    dec_sum = F.sum(F.col(value_col).cast("decimal(18,6)"))
    obs = df.groupBy(
        *ks, F.date_trunc(bucket_trunc, F.col(ts_col)).alias("bucket")
    ).agg(
        dec_sum.cast("double").alias("bucket_value"),
        # exact 6dp decimal twin of bucket_value: interp arithmetic
        # runs on THIS (exact numerator, one double division at the
        # end) so FMA/codegen ulp differences between engines cannot
        # flip the rounded output
        dec_sum.cast("decimal(18,6)").alias("__bvd"),
    )
    rng = obs.groupBy(*ks).agg(
        F.min("bucket").alias("__b0"), F.max("bucket").alias("__b1")
    )
    grid = rng.select(
        *ks,
        F.explode(
            F.sequence(F.col("__b0"), F.col("__b1"), F.expr(step))
        ).alias("bucket"),
    )
    j = grid.join(obs, [*ks, "bucket"], "left")
    w_back = (
        Window.partitionBy(*ks)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    if fill == "locf":
        filled = F.last("bucket_value", ignorenulls=True).over(w_back)
    else:
        w_fwd = (
            Window.partitionBy(*ks)
            .orderBy("bucket")
            .rowsBetween(0, Window.unboundedFollowing)
        )
        obs_ts = F.when(
            F.col("bucket_value").isNotNull(), F.col("bucket")
        ).cast("long")
        t0 = F.last(obs_ts, ignorenulls=True).over(w_back)
        v0 = F.last("__bvd", ignorenulls=True).over(w_back)
        t1 = F.first(obs_ts, ignorenulls=True).over(w_fwd)
        v1 = F.first("__bvd", ignorenulls=True).over(w_fwd)
        t = F.col("bucket").cast("long")
        # (v0*(t1-t) + v1*(t-t0)) / (t1-t0): numerator exact in
        # DECIMAL over integer-second deltas. The quotient lands on
        # exact 6dp half-points for round data (2dp values, hour
        # grids), where Spark's decimal-rendering HALF_UP and a
        # binary-double round() disagree — so the 6dp rounding is
        # done HERE in exact integer arithmetic (half away from
        # zero), engine-portably; the division back by 1e6 is exact
        # in both engines.
        # Guarded to gap rows only: on observed rows t1==t0 makes the
        # eagerly-computed __interp6 a DIV-by-zero (an error under
        # Spark ANSI mode even though the outer when() never reads
        # it), so the numerator stays NULL there. The numerator stays
        # DECIMAL end-to-end (precision 38 — no long cast of
        # value×delta×1e6, which silently overflowed for large values
        # times multi-month deltas); only the DIV quotient ≈ value×1e6
        # lands in a long, bounding |value| at ~9.2e12.
        num_i = F.when(
            F.col("bucket_value").isNull(),
            (v0 * (t1 - t) + v1 * (t - t0)) * 1_000_000,
        )
        den = t1 - t0
        pos = F.expr(
            "(2 * __num_i + __den) DIV (2 * __den)"
        )
        interp6 = F.when(
            F.col("__num_i") >= 0, pos
        ).otherwise(-(
            F.expr("(2 * -__num_i + __den) DIV (2 * __den)")
        ))
        filled = F.when(
            F.col("bucket_value").isNotNull(), F.col("bucket_value")
        ).otherwise(F.col("__interp6") / F.lit(1_000_000.0))
    if fill == "interp":
        j = (
            j.withColumn("__num_i", num_i)
            .withColumn("__den", den)
            .withColumn("__interp6", interp6)
        )
    return j.select(
        *ks,
        "bucket",
        F.round("bucket_value", 6).alias("bucket_value"),
        F.round(filled, 6).alias("filled_value"),
        F.when(F.col("bucket_value").isNull(), 1)
        .otherwise(0)
        .alias("is_gap"),
    )


def as_of_join_pandas(
    spine: DataFrame,
    records: DataFrame,
    on: str | Sequence[str],
    as_of_col: str,
    ts_col: str = "timestamp",
    tiebreakers: Sequence[str] = ("id",),
    tolerance: str | None = None,
) -> DataFrame:
    """The per-row point-in-time join on the pandas ``merge_asof``
    path — same contract as :func:`as_of_join` with a per-row
    ``as_of`` column and ``how="left"``, independent execution: both
    sides cogroup-shuffle ONCE on the key and each group runs pandas'
    O(n log n) sort + linear merge in a Python worker. It is the
    explicit opt-in second implementation that the parity tests and
    ``core_pit_join_pandas`` hold the sorted JVM plan against; both
    produce identical rows (ties resolved to max ``tiebreakers`` at
    equal timestamps; pinned by randomized parity tests).

    ``tolerance`` accepts a pandas-Timedelta string ("90 days"):
    matches older than ``as_of - tolerance`` become NULLs, inclusive
    at the boundary, same as the sorted form.

    Grouping granularity: the cogroup keys on HASH BUCKETS of the join
    key (``pmod(xxhash64(key), shuffle_partitions)``), not on the key
    itself, and each bucket runs ONE ``merge_asof(..., by=key)`` over
    all its entities. Per-entity cogrouping would make one Arrow
    batch + one Python call per entity — with millions of small
    entity groups the interpreter round-trips dominate (measured 29s
    → ~2s at sf0.1). Bucketing keeps the call count at the partition
    count while ``by=`` preserves exact per-entity semantics.

    NULLs: a spine row with a NULL key or a NULL instant gets NULL
    payload (no match) in BOTH forms, and a record with a NULL key or
    a NULL ts never matches. The pandas form must enforce this:
    ``merge_asof(by=...)`` PAIRS None/NaN/NA keys (verified for object,
    float64, and nullable-Int64 dtypes) and rejects NULL ``on`` values
    outright, so such records are dropped and NULL-instant spine rows
    bypass the merge. Pinned by ``test_asof_pandas_null_key_parity``
    and the randomized parity tests. Unmatched rows get None (not
    merge_asof's NaN) in map, array and struct payload columns, which
    Arrow cannot build from a float.

    Float-NaN key caveat (distinct from NULL): Spark groups NaN with
    NaN, so the sorted form matches records whose double-typed key is
    a genuine (non-NULL) NaN. Arrow maps Spark NULL in a double column
    to pandas NaN too, making NULL and real NaN indistinguishable
    here — the ``dropna`` therefore also drops real-NaN keys and the
    two forms diverge for double keys containing NaN values.
    Feature-store entity keys are strings/ints in every catalog path;
    avoid double join keys holding NaN, or use the sorted form for
    them.
    """
    import pandas as pd

    on_cols = [on] if isinstance(on, str) else list(on)
    payload = _per_row_payload(spine, records, on_cols, as_of_col)
    spine_cols = list(spine.columns)
    out_schema = T.StructType(
        [spine.schema[c] for c in spine_cols]
        + [records.schema[c] for c in payload]
    )
    sort_rec = [ts_col] + [t for t in tiebreakers if t in records.columns]
    tol = pd.Timedelta(tolerance) if tolerance is not None else None

    try:
        nb = int(
            spine.sparkSession.conf.get(
                "spark.sql.shuffle.partitions", "200"
            )
        )
    except ValueError:
        # Some platforms set the conf to a non-numeric value (e.g.
        # "auto" under adaptive coalescing); fall back to core count.
        nb = spine.sparkSession.sparkContext.defaultParallelism
    bkt = F.pmod(F.xxhash64(*[F.col(c) for c in on_cols]), F.lit(nb))
    sp = spine.withColumn("__bkt", bkt)
    rc = records.withColumn("__bkt", bkt)

    nested = [
        c for c in payload
        if isinstance(
            records.schema[c].dataType, (T.MapType, T.ArrayType, T.StructType)
        )
    ]

    def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        left = left.drop(columns="__bkt")
        # NULL-key and NULL-ts records can never match (SQL semantics,
        # matching the sorted form) — but merge_asof's by= WOULD pair
        # NULL keys, and it rejects NULL merge keys, so drop them first.
        right = right.dropna(subset=on_cols + [ts_col])
        if right.empty:
            out = left.copy()
            for c in payload:
                out[c] = None
            return out[spine_cols + payload]
        # merge_asof takes the LAST row of a ts tie, so NULL tiebreakers
        # sort first: they lose, as under the sorted form's desc NULLS LAST.
        right = right.drop(columns="__bkt").sort_values(
            sort_rec, kind="mergesort", na_position="first"
        )
        timed = left[as_of_col].notna()
        merged = pd.merge_asof(
            left[timed].sort_values(as_of_col, kind="mergesort"),
            right[on_cols + payload],
            left_on=as_of_col,
            right_on=ts_col,
            by=on_cols,
            direction="backward",
            tolerance=tol,
        )
        if not timed.all():
            merged = pd.concat([merged, left[~timed]], ignore_index=True)
        for c in nested:
            col = merged[c].astype(object)
            merged[c] = col.where(col.notna(), None)
        return merged[spine_cols + payload]

    return (
        sp.groupBy("__bkt")
        .cogroup(rc.groupBy("__bkt"))
        .applyInPandas(lambda lk, rk: fn(lk, rk), out_schema)
    )


def as_of_join_auto(
    spine: DataFrame,
    records: DataFrame,
    on: str | Sequence[str],
    as_of_col: str,
    ts_col: str = "timestamp",
    tiebreakers: Sequence[str] = ("id",),
    tolerance: str | None = None,
) -> DataFrame:
    """Per-row point-in-time join in :func:`as_of_join_pandas`'s
    signature, run as :func:`as_of_join`'s sorted plan (``how="left"``,
    backward direction). Building it starts no Spark job: the sorted
    plan needs no estimate of the data to pick an execution form."""
    on_cols = [on] if isinstance(on, str) else list(on)
    return _as_of_per_row(
        spine, records, on_cols, as_of_col, ts_col, tiebreakers, "left",
        tolerance,
    )

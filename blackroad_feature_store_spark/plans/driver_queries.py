"""Driver-contract query catalog: every operator from SURVEY.md §2 plus
the LLM-pipeline suite, each as a (Spark pipeline, DuckDB oracle SQL)
pair over the shared testdata parquet tables.

Conventions (driver compare = row count + schema + order-insensitive
value hash, columns sorted by name):

* every computed column is aliased IDENTICALLY in the Spark pipeline
  and the oracle SQL;
* timestamps are surfaced as formatted strings (micro vs nano storage
  would otherwise hash differently);
* floating-point aggregates are ``round(x, 6)`` on BOTH sides; inputs
  read from the same parquet files are bit-identical doubles, and all
  derived arithmetic is expressed in the same operation order;
* oracle SQL references the driver's pre-registered views (region
  nation customer supplier part orders lineitem events documents
  embeddings) — never file paths.

Reference parity citations live in the operator modules; each query
below names the SURVEY §2 rows it certifies.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from blackroad_feature_store_spark.functions.router import TRIGGER_PATTERN
from blackroad_feature_store_spark.operators.asof import as_of_join, latest_as_of
from blackroad_feature_store_spark.operators.dedup import (
    embedding_near_duplicates,
    exact_duplicates,
    incremental_candidate_pairs,
    minhash_candidate_pairs,
    minhash_signatures,
    ngram_jaccard,
    simhash,
)
from blackroad_feature_store_spark.operators.corpus import (
    chunk_documents,
    decontaminate,
    mad_outliers,
    paragraph_dedup,
    sentence_chunks,
    tfidf_terms,
)
from blackroad_feature_store_spark.operators.stats import population_stability
from blackroad_feature_store_spark.operators.multimodal import (
    asset_metadata,
    documents_as_assets,
    image_features,
    sample_frames,
)
from blackroad_feature_store_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_lsh,
)
from blackroad_feature_store_spark.operators.text import (
    pii_counts,
    redact_pii,
    text_profile,
    word_shingles,
)
from blackroad_feature_store_spark.operators.util import spread
from blackroad_feature_store_spark.sources.testdata import load
from blackroad_feature_store_spark.streaming.ingest import windowed_counts
from blackroad_feature_store_spark.streaming.partials import (
    start_foreach_batch,
    write_batch_partition,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Core feature-store operator surface (SURVEY §2.1-2.8) over TPC-H tables
# ---------------------------------------------------------------------------

ASOF_CUTOFF = "1998-01-01 00:00:00"


@contextmanager
def _stream_state_parts(spark: SparkSession, n: int = 8):
    """Cap state partitions for a stateful availableNow drain.

    Each stateful-streaming partition pays a fixed state-store
    setup/commit cost per micro-batch; at test scale (tens of
    thousands of rows) 32 state partitions are pure overhead — the
    interval-join drain drops ~8s → ~2.5s at 8 partitions with an
    identical result set (partitioning never changes WHICH rows
    emit). The shuffle-partition count is read at query START, so the
    whole drain, start to end, runs inside this context; the session
    value is restored afterwards. On a real cluster the
    equivalent knob is sizing shuffle partitions to the state volume,
    not the default — state stores want fewer, fatter partitions than
    stateless shuffles."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _write_ordered_batches(
    docs: DataFrame, src: str, bounds: list[int], key: str
) -> None:
    """Write ``docs`` as len(bounds)+1 ``key``-ordered batch files for a
    FileStreamSource (one file per batch, strictly increasing mtimes
    so arrival order == id order, the monotone-arrival contract of
    the ExactSubstr ingest family).

    r16: ONE corpus scan instead of one filtered scan per batch — the
    batch id is an explicit boundary expression (exact membership, no
    range sampling), the write is partitioned by it, and each
    partition directory's single part-file is renamed into the flat
    ``src`` layout the old per-batch writers produced. An empty batch
    (impossible for dense ids but cheap to honor) gets an empty
    parquet file — built from ``docs``' OWN schema, so a caller with
    different columns still produces schema-consistent batch files —
    so batch numbering and compaction points are byte-compatible with
    the sequential writer. ``bounds`` must be ascending (the boundary
    chain below assigns batch ids by the LAST edge a key clears;
    unsorted bounds would silently misnumber batches — ADVICE r16),
    enforced here."""
    if list(bounds) != sorted(bounds):
        raise ValueError(
            f"_write_ordered_batches: bounds must be ascending, got "
            f"{bounds}"
        )
    b = F.lit(0)
    for i, edge in enumerate(bounds):
        b = F.when(F.col(key) >= F.lit(edge), i + 1).otherwise(b)
    tmp = src + "_tmp"
    (
        docs.withColumn("__b", b)
        .repartition("__b")
        .write.partitionBy("__b")
        .parquet(tmp)
    )
    os.makedirs(src, exist_ok=True)
    n_batches = len(bounds) + 1
    now = os.path.getmtime(tmp)
    for k in range(n_batches):
        dst = os.path.join(src, f"{k:05d}.parquet")
        parts = glob.glob(os.path.join(tmp, f"__b={k}", "part-*"))
        if parts:
            if len(parts) != 1:  # one task per key by construction
                raise AssertionError(
                    f"batch {k}: expected one part file, got {parts}"
                )
            os.rename(parts[0], dst)
        else:
            # empty batch file from docs' own schema (minus the
            # internal __b partition column), not a hardcoded
            # (doc_id, text) shape
            (
                docs.sparkSession.createDataFrame([], docs.schema)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp + "_empty")
            )
            empty = glob.glob(
                os.path.join(tmp + "_empty", "part-*")
            )
            os.rename(empty[0], dst)
            shutil.rmtree(tmp + "_empty", ignore_errors=True)
        os.utime(dst, (now + 2.0 * (k + 1), now + 2.0 * (k + 1)))
    shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Catalog scratch and the one stream drain every stream_exec_* row runs
# ---------------------------------------------------------------------------

_SCRATCH_ROOT: str | None = None


def _scratch(prefix: str) -> str:
    """A new directory for one catalog query's scratch (stream sources,
    checkpoints, partial stores, FeatureStore roots, written-out
    sources), under this process's one scratch root. The root is made
    on first use where ``tempfile.mkdtemp`` puts directories, and
    :func:`_remove_scratch_root` removes it at interpreter exit —
    never when a query returns, because the frames queries return are
    lazy and still read their scratch."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="catalog_scratch_")
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


@atexit.register
def _remove_scratch_root() -> None:
    """The exit hook: remove the scratch root and everything under it.
    A later :func:`_scratch` makes a new root."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is not None:
        shutil.rmtree(_SCRATCH_ROOT, ignore_errors=True)
        _SCRATCH_ROOT = None


def _table_stream(spark: SparkSession, sf: str, table: str) -> DataFrame:
    """One testdata table as a parquet file-source stream, read under
    the batch loader's schema (which normalizes NTZ micros to UTC
    TIMESTAMP). FileStreamSource takes a directory, so a glob filter
    picks the one table."""
    return (
        spark.readStream.schema(load(spark, sf, table).schema)
        .format("parquet")
        .option("pathGlobFilter", f"{table}.parquet")
        .load(sf)
    )


def _split_source(
    frame: DataFrame,
    base: str,
    key: str,
    files: int = 2,
    per_trigger: int = 1,
    bounds: list[int] | None = None,
) -> DataFrame:
    """``frame`` written to ``{base}/src`` in ONE scan and read back as
    a parquet file-source stream taking ``per_trigger`` files per
    micro-batch, so ``files / per_trigger`` REAL micro-batches.

    By default the files are a hash split on ``key``: the drains that
    read one fold per-batch partials commutatively, so
    FileStreamSource's arbitrary file order cannot move the result.
    With ``bounds`` they are instead the ``key``-ordered batch files
    of :func:`_write_ordered_batches` (``files`` unused), for drains
    whose arrival order is part of the contract."""
    src = f"{base}/src"
    if bounds is None:
        frame.repartition(files, key).write.parquet(src)
    else:
        _write_ordered_batches(frame, src, bounds, key)
    return (
        frame.sparkSession.readStream.schema(frame.schema)
        .option("maxFilesPerTrigger", str(per_trigger))
        .parquet(src)
    )


def _await(query: StreamingQuery, timeout: float | None = None) -> None:
    """Wait for an availableNow drain to end. A failed query raises
    ``StreamingQueryException`` from ``awaitTermination`` itself; a
    bounded wait that runs out stops the query and raises, so a
    partial sink is never returned as an answer."""
    if timeout is None:
        query.awaitTermination()
    elif not query.awaitTermination(timeout):
        query.stop()
        raise TimeoutError(
            f"stream {query.name or query.id} did not finish within "
            f"{timeout} s and was stopped"
        )


def _drain_memory(
    stream: DataFrame,
    mode: str = "append",
    state_parts: bool = True,
    wait: Callable[[StreamingQuery], None] = _await,
) -> DataFrame:
    """Drain ``stream`` once (availableNow) into a fresh memory sink in
    output ``mode`` and return the sink's table. ``state_parts`` runs
    the whole start-to-end span under :func:`_stream_state_parts`, as
    stateful drains want; ``wait`` ends the drain."""
    spark = stream.sparkSession
    sink = f"catalog_sink_{uuid.uuid4().hex[:8]}"
    with _stream_state_parts(spark) if state_parts else nullcontext():
        wait(
            stream.writeStream.format("memory")
            .queryName(sink)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
    return spark.table(sink)


def _drain_foreach(
    stream: DataFrame, fn: Callable[[DataFrame, int], None], base: str
) -> None:
    """Drain ``stream`` once (availableNow) through ``fn(batch_df,
    batch_id)`` as its foreachBatch sink, checkpointed in ``base``."""
    _await(
        start_foreach_batch(stream, fn, f"{base}/ckpt", available_now=True)
    )


@q(
    "core_scan_filter_project",
    """
    SELECT p_partkey, p_name, p_type
    FROM part WHERE p_brand = 'Brand#1'
    """,
)
def core_scan_filter_project(spark: SparkSession, sf: str) -> DataFrame:
    """S2/P3/P6/O1: filtered full scan with column pruning — the
    `list_features(entity_type=...)` shape (feature_store.py:249-261).
    Filter and 3-column ReadSchema push to the parquet scan."""
    return (
        load(spark, sf, "part")
        .where(F.col("p_brand") == "Brand#1")
        .select("p_partkey", "p_name", "p_type")
    )


@q(
    "core_dim_join_ordered",
    """
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def core_dim_join_ordered(spark: SparkSession, sf: str) -> DataFrame:
    """S3/O3: registry-style scan + broadcast dim join (`list_groups`,
    feature_store.py:510-516). region is broadcast — no shuffle."""
    nation = load(spark, sf, "nation")
    region = F.broadcast(load(spark, sf, "region"))
    return (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name", "r_name")
    )


@q(
    "core_point_lookup",
    """
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer WHERE c_custkey = 42
    """,
)
def core_point_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """S5/S6: point lookup by key (`get_feature`/`get_group`,
    feature_store.py:243-247,308-312). Equality predicate pushed to
    the scan (min/max row-group skipping at scale)."""
    return (
        load(spark, sf, "customer")
        .where(F.col("c_custkey") == 42)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    )


@q(
    "core_lookup_composite",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
    """,
)
def core_lookup_composite(spark: SparkSession, sf: str) -> DataFrame:
    """S7: composite-key lookup (`get_group_by_name(name, version)`,
    feature_store.py:314-320) — broadcast semi-style join against a
    1-row aggregate instead of a driver round-trip."""
    li = load(spark, sf, "lineitem")
    mn = li.agg(F.min("l_orderkey").alias("l_orderkey"))
    return li.join(F.broadcast(mn), "l_orderkey").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


@q(
    "core_asof_top1",
    f"""
    SELECT o_custkey,
           o_orderkey   AS last_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS last_orderdate,
           o_totalprice AS last_totalprice
    FROM orders
    WHERE o_orderdate <= TIMESTAMP '{ASOF_CUTOFF}'
    QUALIFY row_number() OVER (
        PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    """,
)
def core_asof_top1(spark: SparkSession, sf: str) -> DataFrame:
    """J2/O4/P4: as-of top-1 per key — the reference's
    `ORDER BY timestamp DESC LIMIT 1` point read
    (feature_store.py:391-405) as one window over the pruned scan."""
    orders = load(spark, sf, "orders")
    latest = latest_as_of(
        orders,
        keys=["o_custkey"],
        ts_col="o_orderdate",
        as_of=F.lit(ASOF_CUTOFF).cast("timestamp"),
        tiebreakers=("o_orderkey",),
    )
    return latest.select(
        "o_custkey",
        F.col("o_orderkey").alias("last_orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("last_orderdate"),
        F.col("o_totalprice").alias("last_totalprice"),
    )


@q(
    "core_pit_join",
    f"""
    SELECT c.c_custkey, c.c_name,
           l.o_totalprice  AS pit_totalprice,
           l.o_orderstatus AS pit_status
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey, o_totalprice, o_orderstatus
        FROM orders
        WHERE o_orderdate <= TIMESTAMP '{ASOF_CUTOFF}'
        QUALIFY row_number() OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    ) l ON c.c_custkey = l.o_custkey
    """,
)
def core_pit_join(spark: SparkSession, sf: str) -> DataFrame:
    """J1: point-in-time join — spine left-joins the as-of snapshot,
    entities with no qualifying record keep a (null) row
    (feature_store.py:411-448). One window shuffle + one join; no E×G
    loop."""
    spine = load(spark, sf, "customer").select("c_custkey", "c_name")
    recs = load(spark, sf, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderkey", "o_orderdate", "o_totalprice", "o_orderstatus",
    )
    joined = as_of_join(
        spine,
        recs,
        on="c_custkey",
        ts_col="o_orderdate",
        as_of=F.lit(ASOF_CUTOFF).cast("timestamp"),
        tiebreakers=("o_orderkey",),
    )
    return joined.select(
        "c_custkey",
        "c_name",
        F.col("o_totalprice").alias("pit_totalprice"),
        F.col("o_orderstatus").alias("pit_status"),
    )


@q(
    "core_pit_join_pandas",
    f"""
    SELECT c.c_custkey, c.c_name,
           l.o_totalprice  AS pit_totalprice,
           l.o_orderstatus AS pit_status
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey, o_totalprice, o_orderstatus
        FROM orders
        WHERE o_orderdate <= TIMESTAMP '{ASOF_CUTOFF}'
        QUALIFY row_number() OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    ) l ON c.c_custkey = l.o_custkey
    """,
)
def core_pit_join_pandas(spark: SparkSession, sf: str) -> DataFrame:
    """J1 on the merge_asof execution path
    (`operators/asof.py::as_of_join_pandas`): hash-bucketed cogroup
    shuffle + ONE pandas merge_asof(by=key) per bucket — no
    candidate-pair blow-up when entities have deep snapshot histories,
    and no per-entity Python round-trip. The independent implementation
    the sorted per-row plan of as_of_join is held against; shares
    core_pit_join's oracle, so the gate proves the forms are
    value-identical (including the orderkey tiebreak at equal
    timestamps)."""
    from blackroad_feature_store_spark.operators.asof import (
        as_of_join_pandas,
    )

    spine = (
        load(spark, sf, "customer")
        .select("c_custkey", "c_name")
        .withColumn("cutoff", F.lit(ASOF_CUTOFF).cast("timestamp"))
    )
    recs = load(spark, sf, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderkey", "o_orderdate", "o_totalprice", "o_orderstatus",
    )
    joined = as_of_join_pandas(
        spine,
        recs,
        on="c_custkey",
        as_of_col="cutoff",
        ts_col="o_orderdate",
        tiebreakers=("o_orderkey",),
    )
    return joined.select(
        "c_custkey",
        "c_name",
        F.col("o_totalprice").alias("pit_totalprice"),
        F.col("o_orderstatus").alias("pit_status"),
    )


@q(
    "core_asof_forward_label",
    f"""
    SELECT c.c_custkey,
           l.o_orderkey    AS label_orderkey,
           l.o_totalprice  AS label_totalprice
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '{ASOF_CUTOFF}'
          AND o_orderdate <= TIMESTAMP '{ASOF_CUTOFF}'
                             + INTERVAL 90 DAY
        QUALIFY row_number() OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate ASC, o_orderkey ASC) = 1
    ) l ON c.c_custkey = l.o_custkey
    """,
)
def core_asof_forward_label(spark: SparkSession, sf: str) -> DataFrame:
    """Forward-label extraction
    (`operators/asof.py::latest_as_of(direction="forward")`): per
    customer, the FIRST order at or after the cutoff within a 90-day
    horizon — "did the entity convert within N days", the supervised
    label every churn/propensity training set joins next to its
    point-in-time features. Same one-window shape as the backward
    as-of (both range predicates push to the scan), ascending order
    and tiebreak."""
    from blackroad_feature_store_spark.operators.asof import latest_as_of

    spine = load(spark, sf, "customer").select("c_custkey")
    recs = load(spark, sf, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderkey", "o_orderdate", "o_totalprice",
    )
    first_after = latest_as_of(
        recs,
        keys=["c_custkey"],
        ts_col="o_orderdate",
        as_of=F.lit(ASOF_CUTOFF).cast("timestamp"),
        tiebreakers=("o_orderkey",),
        tolerance="90 days",
        direction="forward",
    )
    return spine.join(first_after, "c_custkey", "left").select(
        "c_custkey",
        F.col("o_orderkey").alias("label_orderkey"),
        F.col("o_totalprice").alias("label_totalprice"),
    )


@q(
    "core_group_stats",
    """
    SELECT o_orderstatus AS status,
           count(v)                                   AS n_values,
           count(*) - count(v)                        AS null_count,
           round(avg(v), 6)                           AS mean,
           min(v)                                     AS min,
           max(v)                                     AS max
    FROM (SELECT o_orderstatus,
                 CASE WHEN o_totalprice >= 50000 THEN o_totalprice END AS v
          FROM orders)
    GROUP BY o_orderstatus
    """,
)
def core_group_stats(spark: SparkSession, sf: str) -> DataFrame:
    """A1/F5/F6: the `statistics` aggregate shape — count of non-null,
    null_count of absent, round(mean,6), min/max
    (feature_store.py:450-508) — as one partial+final hash agg."""
    orders = load(spark, sf, "orders").withColumn(
        "v", F.when(F.col("o_totalprice") >= 50000, F.col("o_totalprice"))
    )
    return orders.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("v").alias("n_values"),
        F.sum(F.col("v").isNull().cast("long")).alias("null_count"),
        F.round(F.avg("v"), 6).alias("mean"),
        F.min("v").alias("min"),
        F.max("v").alias("max"),
    )


@q(
    "core_global_top1",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS last_orderdate,
           o_totalprice
    FROM orders
    ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1
    """,
)
def core_global_top1(spark: SparkSession, sf: str) -> DataFrame:
    """O4: global ORDER BY ... DESC LIMIT 1 (feature_store.py:396,403)
    — Spark plans this as TakeOrderedAndProject (no full sort)."""
    return (
        load(spark, sf, "orders")
        .orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
        .limit(1)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("last_orderdate"),
            "o_totalprice",
        )
    )


@q(
    "core_json_values",
    """
    SELECT event_id,
           CAST(props->>'k' AS BIGINT) AS k,
           '{"k":' || CAST(props->>'k' AS BIGINT) || '}' AS payload
    FROM events
    """,
)
def core_json_values(spark: SparkSession, sf: str) -> DataFrame:
    """F1/F2/F11: JSON parse of the `events.props` payload and
    re-serialization — the feature_values blob codec
    (feature_store.py:63,91,120,366,409)."""
    ev = load(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long").alias("k")
    return ev.select(
        "event_id", k, F.to_json(F.struct(F.col("k"))).alias("payload")
    ).withColumn("k", F.col("k"))


@q(
    "core_string_fns",
    """
    SELECT event_id,
           string_split(event_type || ',' || CAST(user_id AS VARCHAR), ',')[1]
               AS head,
           array_to_string(
               string_split(event_type || ',' || CAST(user_id AS VARCHAR), ','),
               ', ') AS joined,
           strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts19,
           CAST(event_type = 'click' AS INT) AS is_click
    FROM events
    """,
)
def core_string_fns(spark: SparkSession, sf: str) -> DataFrame:
    """F7/F8/F9/F10: split on ',', join with ', ', timestamp[:19]
    truncation, bool cast (feature_store.py:524,537,575-576,600,66) —
    the CLI string layer, in-engine and vectorized."""
    ev = load(spark, sf, "events")
    csv = F.concat("event_type", F.lit(","), F.col("user_id").cast("string"))
    parts = F.split(csv, ",")
    return ev.select(
        "event_id",
        F.element_at(parts, 1).alias("head"),
        F.array_join(parts, ", ").alias("joined"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts19"),
        (F.col("event_type") == "click").cast("int").alias("is_click"),
    )


@q(
    "core_router_triggers",
    r"""
    WITH t AS (
        SELECT doc_id,
               CASE doc_id % 4
                 WHEN 0 THEN '@Ollama ' || text
                 WHEN 1 THEN 'hey @COPILOT ' || text
                 WHEN 2 THEN text
                 ELSE '@lucidia ' || text || ' @blackboxprogramming'
               END AS msg
        FROM documents)
    SELECT doc_id,
           lower(nullif(regexp_extract(msg,
               '(?i)(@blackboxprogramming|@copilot|@lucidia|@ollama)', 0), ''))
               AS trigger,
           trim(regexp_replace(msg,
               '(?i)(@blackboxprogramming|@copilot|@lucidia|@ollama)', '', 'g'))
               AS stripped
    FROM t
    """,
)
def core_router_triggers(spark: SparkSession, sf: str) -> DataFrame:
    """F12/F13/F14: trigger detect / strip / lowercase over text
    (ollama_router.py:41-55) on a deterministic @mention corpus
    synthesized from `documents`."""
    docs = load(spark, sf, "documents")
    msg = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("@Ollama "), "text"))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("hey @COPILOT "), "text"))
        .when(F.col("doc_id") % 4 == 2, F.col("text"))
        .otherwise(
            F.concat(F.lit("@lucidia "), "text", F.lit(" @blackboxprogramming"))
        )
    )
    pat = TRIGGER_PATTERN
    return docs.select("doc_id", msg.alias("msg")).select(
        "doc_id",
        F.lower(F.nullif(F.regexp_extract("msg", pat, 0), F.lit(""))).alias(
            "trigger"
        ),
        F.trim(F.regexp_replace("msg", pat, "")).alias("stripped"),
    )


@q(
    "core_events_hourly",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def core_events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Beyond-reference: event-time rollup (the hypertable-style
    continuous aggregate). Partial+final hash agg over the scan.

    Sums go through DECIMAL(18,6) (order-independent) with ONE double
    division for the mean — a raw double sum's last ulp depends on
    partial-aggregation order, and at sf0.1 one hour bucket landed
    exactly on a round(,6) boundary and flipped between engines."""
    ev = load(spark, sf, "events")
    dsum = F.sum(F.col("value").cast("decimal(18,6)"))
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias(
            "hour"
        ),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum.cast("double").alias("sum_value"),
        F.round(dsum.cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_value"
        ),
    )


@q(
    "core_sessionize",
    """
    WITH s AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev
        FROM events)
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CASE WHEN prev IS NULL
                         OR epoch_us(ts) - epoch_us(prev) > 1800000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
    FROM s GROUP BY user_id
    """,
)
def core_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Beyond-reference: sessionization (30-min inactivity gap) — lag
    window + conditional sum, one shuffle on user_id."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1
    ).otherwise(0)
    return (
        ev.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("new_sess").cast("long").alias("n_sessions"),
        )
    )


@q(
    "core_asof_prev_order",
    """
    SELECT s.o_orderkey, s.o_custkey,
           r.o_orderkey   AS prev_orderkey,
           r.o_totalprice AS prev_totalprice
    FROM orders s
    LEFT JOIN orders r
      ON r.o_custkey = s.o_custkey AND r.o_orderdate < s.o_orderdate
    QUALIFY row_number() OVER (
        PARTITION BY s.o_orderkey
        ORDER BY r.o_orderdate DESC, r.o_orderkey DESC) = 1
    """,
)
def core_asof_prev_order(spark: SparkSession, sf: str) -> DataFrame:
    """J1 per-row variant: each order joined to its customer's latest
    STRICTLY EARLIER order — the per-spine-row as-of cutoff that makes
    training sets leakage-free (classic point-in-time correctness).
    Exercises as_of_join's per-row branch: one sort per customer over
    orders and spine rows together, no candidate-pair set.

    The two sides are read separately on purpose: deriving both from
    one DataFrame gives the join keys identical expression IDs (the
    classic self-join ambiguity) and scrambles the join condition.
    """
    spine = load(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr("o_orderdate - INTERVAL 1 MICROSECOND").alias("__cutoff"),
    )
    recs = load(spark, sf, "orders").select(
        "o_custkey",
        F.col("o_orderkey").alias("prev_orderkey"),
        F.col("o_totalprice").alias("prev_totalprice"),
        F.col("o_orderdate").alias("r_orderdate"),
    )
    joined = as_of_join(
        spine,
        recs,
        on="o_custkey",
        ts_col="r_orderdate",
        as_of="__cutoff",
        tiebreakers=("prev_orderkey",),
    )
    return joined.select(
        "o_orderkey", "o_custkey", "prev_orderkey", "prev_totalprice"
    )


# ---------------------------------------------------------------------------
# TPC-H-style analytics (general OLAP capability over the fact table).
# Double sums are made engine-exact by casting each term to DECIMAL
# before the sum (binary64 addition is order-dependent; decimal is not)
# and back to DOUBLE at the end.
# ---------------------------------------------------------------------------


@q(
    "tpch_q1_pricing",
    """
    WITH d AS (
        SELECT l_returnflag, l_linestatus,
               CAST(l_quantity      AS DECIMAL(18,2)) AS qty,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS ep,
               CAST(l_discount      AS DECIMAL(18,2)) AS disc,
               CAST(l_tax           AS DECIMAL(18,2)) AS tax
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
    SELECT l_returnflag, l_linestatus,
           CAST(sum(qty) AS DOUBLE) AS sum_qty,
           CAST(sum(ep)  AS DOUBLE) AS sum_base_price,
           CAST(sum(ep * (1 - disc)) AS DOUBLE) AS sum_disc_price,
           CAST(sum(ep * (1 - disc) * (1 + tax)) AS DOUBLE) AS sum_charge,
           round(CAST(sum(qty) AS DOUBLE) / count(*), 6) AS avg_qty,
           round(CAST(sum(ep)  AS DOUBLE) / count(*), 6) AS avg_price,
           count(*) AS count_order
    FROM d GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 (pricing summary) adapted to the testdata schema — the
    canonical scan-heavy partial+final aggregation.

    Inputs are cast to DECIMAL(18,2) BEFORE any arithmetic: at scale 2
    the rounding half-step (0.005) dwarfs double noise (~1e-11), so
    both engines round identically, and everything downstream is exact
    decimal arithmetic — a double product cast at scale 10 would sit
    inside the noise band and diverge per engine (measured: 3e-8 drift
    over 138k rows).
    """
    li = load(spark, sf, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    qty = F.col("l_quantity").cast("decimal(18,2)")
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    tax = F.col("l_tax").cast("decimal(18,2)")
    dec_qty = F.sum(qty)
    dec_base = F.sum(ep)
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dec_qty.cast("double").alias("sum_qty"),
        dec_base.cast("double").alias("sum_base_price"),
        F.sum(ep * (1 - disc)).cast("double").alias("sum_disc_price"),
        F.sum(ep * (1 - disc) * (1 + tax)).cast("double").alias("sum_charge"),
        F.round(dec_qty.cast("double") / n, 6).alias("avg_qty"),
        F.round(dec_base.cast("double") / n, 6).alias("avg_price"),
        n.alias("count_order"),
    )


@q(
    "tpch_q3_shipping",
    """
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) adapted: 3-way join with selective
    filters on both dimensions, aggregate, top-10.

    No forced broadcasts: the date filter keeps nearly ALL of orders
    (TPC-H order dates run 1992-1998), so a broadcast() hint on the
    orders⋈customer side — however fast at test SF — is a multi-GB
    executor OOM at cluster scale, the exact defect class Q10 had in
    round 4. Join strategy is left to AQE, which picks broadcast at
    small SF from *measured* sizes and hash-join at 100 TB; pinned by
    tests/test_plans.py::test_q3_no_forced_broadcast."""
    cust = load(spark, sf, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = load(spark, sf, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    # Decimal-input arithmetic for engine-exact sums (see tpch_q1).
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(
            orders.join(cust, orders.o_custkey == cust.c_custkey),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Store round-trip: write through the real FeatureStore, read back as-of,
# verify against the raw orders table (S8 + P1/P2 + J2 end-to-end).
# ---------------------------------------------------------------------------


@q(
    "store_roundtrip_asof",
    f"""
    SELECT CAST(o_custkey AS VARCHAR) AS entity_id,
           o_totalprice  AS asof_totalprice,
           o_orderstatus AS asof_status
    FROM orders
    WHERE epoch_us(o_orderdate) + o_orderkey
          <= epoch_us(TIMESTAMP '{ASOF_CUTOFF}')
    QUALIFY row_number() OVER (
        PARTITION BY o_custkey
        ORDER BY epoch_us(o_orderdate) + o_orderkey DESC) = 1
    """,
)
def store_roundtrip_asof(spark: SparkSession, sf: str) -> DataFrame:
    """S8/P1/P2/J2 end-to-end: bulk-write orders into a real
    FeatureStore (JSON-encoded map cells, partitioned parquet log),
    then as-of read the latest snapshot per entity and decode.

    Record ts = o_orderdate + o_orderkey µs makes snapshot times unique
    per entity, so the oracle's window is deterministic without relying
    on the store's uuid tiebreak.
    """
    from blackroad_feature_store_spark.store import FeatureStore

    fs = FeatureStore(spark, _scratch("fs_oracle_"))
    fs.register_feature("totalprice", "customer", "float")
    fs.register_feature("status", "customer", "str")
    g = fs.create_group("orders_g", ["totalprice", "status"], "c_custkey")

    # spread: the uuid + JSON-encode record projection is per-row
    # expensive and otherwise runs as ONE task on the single-row-group
    # orders scan (r16); keyed on the entity key so the store write
    # lands entity-clustered files. No-op on a wide scan.
    orders = spread(load(spark, sf, "orders"), "o_custkey")
    enc = lambda c: F.regexp_extract(  # noqa: E731 — JSON-cell encoder
        F.to_json(F.struct(F.col(c).alias("v")), {"ignoreNullFields": "false"}),
        r'^\{"v":(.*)\}$',
        1,
    )
    recs = orders.select(
        F.expr("uuid()").alias("id"),
        F.lit(g.id).alias("group_id"),
        F.col("o_custkey").cast("string").alias("entity_id"),
        F.map_from_arrays(
            F.array(F.lit("totalprice"), F.lit("status")),
            F.array(enc("o_totalprice"), enc("o_orderstatus")),
        ).alias("feature_values"),
        F.timestamp_micros(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            + F.col("o_orderkey")
        ).alias("timestamp"),
        F.lit(1).alias("version"),
    )
    fs.write_records_df(recs)

    latest = latest_as_of(
        fs.records_df(g.id),
        keys=["entity_id"],
        ts_col="timestamp",
        as_of=F.lit(ASOF_CUTOFF).cast("timestamp"),
    )
    return latest.select(
        "entity_id",
        F.element_at("feature_values", "totalprice")
        .cast("double")
        .alias("asof_totalprice"),
        F.regexp_replace(
            F.element_at("feature_values", "status"), '^"|"$', ""
        ).alias("asof_status"),
    )


@q(
    "store_registry_ops",
    """
    SELECT * FROM (VALUES
        ('feature', 'age',    'user',    'float', 0, TRUE),
        ('feature', 'city',   'user',    'str',   0, FALSE),
        ('feature', 'income', 'user',    'float', 0, TRUE),
        ('group',   'user_core',  'user_id', 'batch', 1, TRUE),
        ('group',   'user_core',  'user_id', 'batch', 2, TRUE),
        ('group',   'user_geo',   'user_id', 'batch', 1, TRUE),
        ('check', 'duplicate_group_version_rejected',
                  'GroupExistsError',   'raised', 0, TRUE),
        ('check', 'invalid_dtype_rejected',
                  'InvalidDtypeError',  'raised', 0, TRUE),
        ('check', 'unknown_feature_rejected',
                  'UnknownFeatureError', 'raised', 0, TRUE)
    ) AS t(kind, name, attr1, attr2, version, active)
    """,
)
def store_registry_ops(spark: SparkSession, sf: str) -> DataFrame:
    """S1/S9/S10 through a real FeatureStore: DDL (fresh store layout),
    upsert-by-name re-registration (reference ``INSERT OR REPLACE`` on
    the UNIQUE name column, feature_store.py:195-241), and
    (name, version)-unique group creation (feature_store.py:263-306),
    plus the three error contracts. Output is the registry state with
    the non-deterministic columns (uuid ids, created_at) dropped, so a
    literal-VALUES DuckDB oracle pins it exactly.
    """
    from blackroad_feature_store_spark.errors import (
        GroupExistsError,
        InvalidDtypeError,
        UnknownFeatureError,
    )
    from blackroad_feature_store_spark.store import FeatureStore

    fs = FeatureStore(spark, _scratch("fs_registry_"))
    # S9: register, then re-register the same name — upsert wins.
    fs.register_feature("age", "user", "int", description="first take")
    fs.register_feature("income", "user", "float")
    fs.register_feature("city", "user", "str")
    fs.register_feature("age", "user", "float", description="upserted")
    fs.deactivate_feature("city")  # soft delete survives in the registry
    # S10: two versions of the same group name are distinct rows...
    fs.create_group("user_core", ["age", "income"], "user_id")
    fs.create_group("user_core", ["age"], "user_id", version=2)
    fs.create_group("user_geo", ["city"], "user_id")

    checks = []
    # ...but a duplicate (name, version) is rejected.
    try:
        fs.create_group("user_core", ["age"], "user_id")
    except GroupExistsError:
        checks.append(("check", "duplicate_group_version_rejected",
                       "GroupExistsError", "raised"))
    try:
        fs.register_feature("bad", "user", "decimal")
    except InvalidDtypeError:
        checks.append(("check", "invalid_dtype_rejected",
                       "InvalidDtypeError", "raised"))
    try:
        fs.create_group("ghost", ["nope"], "user_id")
    except UnknownFeatureError:
        checks.append(("check", "unknown_feature_rejected",
                       "UnknownFeatureError", "raised"))

    feats = fs.features_df().select(
        F.lit("feature").alias("kind"),
        "name",
        F.col("entity_type").alias("attr1"),
        F.col("dtype").alias("attr2"),
        F.lit(0).alias("version"),
        F.col("is_active").alias("active"),
    )
    groups = fs.groups_df().select(
        F.lit("group").alias("kind"),
        "name",
        F.col("entity_key").alias("attr1"),
        F.col("frequency").alias("attr2"),
        "version",
        F.lit(True).alias("active"),
    )
    import pandas as pd

    checks_df = spark.createDataFrame(
        pd.DataFrame(
            [(*c, 0, True) for c in checks],
            columns=["kind", "name", "attr1", "attr2", "version", "active"],
        ),
        "kind string, name string, attr1 string, attr2 string, "
        "version int, active boolean",
    )
    return feats.unionByName(groups).unionByName(checks_df)


@q(
    "core_uuid_shape",
    oracle="SELECT count(*) AS n_valid, count(*) AS n_distinct "
    "FROM customer",
)
def core_uuid_shape(spark: SparkSession, sf: str) -> DataFrame:
    """F4: UUID generation (reference ``str(uuid.uuid4())`` for ids,
    feature_store.py:114,133,151). The VALUES are non-deterministic,
    but the shape checks fold to deterministic counts (VERDICT r14
    ask #4): if every generated id matches the RFC-4122 v4 regex and
    all are distinct, both outputs equal ``count(customer)`` — which
    is exactly what the DuckDB oracle computes, so this row is
    hash-checked like any other. A malformed uuid drops ``n_valid``
    below the oracle's count; a collision makes ``n_distinct`` lag
    ``n_valid`` and the final filter empties the result — either way
    a loud mismatch, not a rows-only wave-through.
    """
    n = (
        load(spark, sf, "customer")
        .select(F.expr("uuid()").alias("u"))
        .where(
            F.col("u").rlike(
                "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}"
                "-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"
            )
        )
        .agg(
            F.count("*").alias("n_valid"),
            F.count_distinct("u").alias("n_distinct"),
        )
    )
    return n.where(F.col("n_valid") == F.col("n_distinct")).select(
        "n_valid", "n_distinct"
    )


@q(
    "core_current_ts_shape",
    oracle="SELECT true AS iso_shape_ok, true AS utc_within_driver_hour",
)
def core_current_ts_shape(spark: SparkSession, sf: str) -> DataFrame:
    """F3: current UTC timestamp, ISO-formatted (reference
    ``datetime.utcnow().isoformat()``, feature_store.py:80-84,351).
    The VALUE is wall-clock, but each shape check folds to a
    deterministic boolean (VERDICT r14 ask #4): ISO-8601 with
    microseconds, and UTC-session-zone epoch within an hour of the
    driver's own clock. The DuckDB oracle is ``true, true`` — a
    breakage flips a column to ``false`` and fails the value hash
    loudly instead of hiding behind a rows-only row-count.
    """
    from datetime import datetime, timezone

    # Keep the datetime tz-aware: .timestamp() on a NAIVE datetime is
    # interpreted as LOCAL time, so on a non-UTC driver the epoch bound
    # would be off by the zone offset and the check would spuriously
    # read false.
    py_now = datetime.now(timezone.utc)
    one = spark.range(1).select(
        F.date_format(
            F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
        ).alias("iso"),
        F.current_timestamp().alias("ts"),
    )
    return one.select(
        F.col("iso")
        .rlike(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6}$")
        .alias("iso_shape_ok"),
        (
            F.abs(
                F.unix_micros("ts") - F.lit(int(py_now.timestamp() * 1e6))
            )
            < F.lit(3_600_000_000)  # within an hour of the driver clock
        ).alias("utc_within_driver_hour"),
    )


# ---------------------------------------------------------------------------
# LLM-pipeline: dedup
# ---------------------------------------------------------------------------

# Shared oracle SQL fragments — kept textually identical across queries
# so each oracle stays a standalone statement (driver runs them 1:1).
_SQL_FINGERPRINT = r"md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))"

_SQL_SHINGLES = r"""
    toks AS (SELECT doc_id,
                    regexp_split_to_array(trim(text), '\s+') AS t
             FROM documents),
    sh AS (SELECT doc_id,
                  unnest(CASE WHEN len(t) < 3
                         THEN [array_to_string(t, ' ')]
                         ELSE list_transform(generate_series(1, len(t) - 2),
                                             i -> array_to_string(t[i:i+2], ' '))
                         END) AS shingle
           FROM toks)
"""

_SQL_MINHASH_PAIRS = f"""
    WITH {_SQL_SHINGLES},
    hs AS (SELECT doc_id,
                  CAST('0x' || substr(md5(shingle), 1, 14) AS BIGINT) AS h1,
                  CAST('0x' || substr(md5(shingle), 15, 14) AS BIGINT) AS h2
           FROM sh),
    bands AS (SELECT doc_id, band,
                     CAST(min((h1 + (band * 2) * h2)
                              % 72057594037927936) AS VARCHAR)
                     || '|' ||
                     CAST(min((h1 + (band * 2 + 1) * h2)
                              % 72057594037927936) AS VARCHAR) AS sig
              FROM hs CROSS JOIN
                   (SELECT unnest(generate_series(0, 7)) AS band)
              GROUP BY doc_id, band),
    pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.sig = b.sig
               AND a.doc_id < b.doc_id)
"""


# Shifted-copy convention (VERDICT r12 missing #2): synthetic-duplicate
# fixtures re-key their copies past the ACTUAL max corpus id instead of
# a fixed +1e6 — the fixed shift collided with real ids once the 100x
# probe corpus grew past 1e6 rows (stream_exec_ivf_maintained's
# certificate caught the duplicate-id union as 17k "divergences").
# Both engines compute the same shift: the oracle as a scalar subquery,
# Spark as a one-row bounded aggregate.
_SQL_DOC_SHIFT = "(SELECT max(doc_id) + 1 FROM documents)"


def _doc_id_shift(docs: DataFrame) -> int:
    """max(doc_id) + 1 over the corpus — the shifted-copy convention's
    collision-proof offset (one-row bounded collect)."""
    return int(docs.agg(F.max("doc_id")).first()[0]) + 1


@q(
    "dedup_exact",
    f"""
    WITH u AS (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + {_SQL_DOC_SHIFT}, text FROM documents)
    SELECT {_SQL_FINGERPRINT} AS fp,
           count(*)   AS dup_count,
           min(doc_id) AS keep_id
    FROM u GROUP BY fp
    """,
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized fingerprint — one
    shuffle on md5. Run over documents ∪ re-keyed documents so real
    duplicate groups exist at every sf."""
    docs = load(spark, sf, "documents").select("doc_id", "text")
    shift = _doc_id_shift(docs)
    u = docs.unionByName(
        docs.select((F.col("doc_id") + shift).alias("doc_id"), "text")
    )
    return exact_duplicates(u).select("fp", "dup_count", "keep_id")


@q("dedup_minhash_pairs", _SQL_MINHASH_PAIRS + "SELECT id_a, id_b FROM pairs")
def dedup_minhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash/LSH near-dup candidates: banded min-md5 signatures,
    bucket self-join on (band, sig) — never all-pairs."""
    docs = load(spark, sf, "documents")
    return minhash_candidate_pairs(docs, num_bands=8, shingle_size=3)


_SKEW_TEMPLATE = (
    "subscribe to our newsletter for weekly updates terms of service "
    "privacy policy all rights reserved contact us"
)

# Skewed-corpus LSH: 80% of docs are replaced by one boilerplate
# template, so every template bucket holds ~0.8*N docs — an unguarded
# self-join would emit O(N^2) pairs from those buckets alone. The
# max_bucket<=50 cap drops them BEFORE the join; the oracle reproduces
# the cap as a HAVING filter on bucket size.
_SQL_SKEWED_PAIRS = (
    _SQL_MINHASH_PAIRS.replace("FROM documents", "FROM skewdocs")
    .replace(
        "WITH ",
        "WITH skewdocs AS (SELECT doc_id,"
        f" CASE WHEN doc_id % 5 <> 0 THEN '{_SKEW_TEMPLATE}'"
        " ELSE text END AS text FROM documents), ",
        1,
    )
    .replace(
        "pairs AS (",
        "kept AS (SELECT bands.* FROM bands JOIN"
        " (SELECT band, sig FROM bands GROUP BY band, sig"
        "  HAVING count(*) <= 50) ok USING (band, sig)), pairs AS (",
        1,
    )
    .replace("FROM bands a JOIN bands b", "FROM kept a JOIN kept b")
)


@q("dedup_skewed_pairs", _SQL_SKEWED_PAIRS + "SELECT id_a, id_b FROM pairs")
def dedup_skewed_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """LSH under heavy skew: 80% of the corpus is one boilerplate
    template (the web-corpus degenerate case). ``max_bucket=50`` drops
    the template buckets before the self-join, so pair volume stays
    LINEAR in corpus size — the uncapped plan would emit O(N^2) pairs
    from the template buckets alone (pinned quantitatively in
    ``tests/test_dedup_skew.py``; this catalog entry certifies the
    capped pair SET against the oracle and keeps a bench line on the
    skewed shape)."""
    docs = load(spark, sf, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 5 != 0, F.lit(_SKEW_TEMPLATE))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return minhash_candidate_pairs(
        docs, num_bands=8, shingle_size=3, max_bucket=50
    )


@q(
    "dedup_incremental",
    _SQL_MINHASH_PAIRS
    + """
    SELECT id_a, id_b FROM pairs
    WHERE id_a % 4 = 0 OR id_b % 4 = 0
    """,
)
def dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental LSH — the daily-ingest dedup path: 3/4 of the corpus
    is the already-signed signature table; the remaining 1/4 arrives as
    the new batch, is shingled/hashed alone, and bucket-joins
    new-vs-existing plus new-vs-new. The signature construction is
    deterministic per document, so the incremental pair set must equal
    the full-corpus LSH pairs restricted to pairs touching a new doc —
    which is exactly what the oracle computes. Per-increment cost is
    O(|batch| + collisions), independent of corpus size."""
    docs = load(spark, sf, "documents")
    existing = docs.where(F.col("doc_id") % 4 != 0)
    new = docs.where(F.col("doc_id") % 4 == 0)
    sigs = minhash_signatures(existing, num_bands=8, shingle_size=3)
    pairs, _new_sigs = incremental_candidate_pairs(
        new, sigs, num_bands=8, shingle_size=3
    )
    return pairs


@q(
    "dedup_simhash",
    """
    WITH toks AS (SELECT doc_id,
                         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
                  FROM documents),
    h AS (SELECT doc_id, md5(tok) AS h FROM toks),
    bits AS (SELECT doc_id, j,
                    sum(CASE WHEN substr(h, j, 1) SIMILAR TO '[89a-f]'
                             THEN 1 ELSE -1 END) AS s
             FROM h CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS j)
             GROUP BY doc_id, j)
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << (j - 1))
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash signatures (16-bit, md5-nibble construction) per doc."""
    return simhash(load(spark, sf, "documents"), bits=16)


@q(
    "dedup_winnow_pairs",
    r"""
    WITH norm AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
        FROM documents),
    h AS (
        SELECT doc_id,
               list_transform(range(1, length(s) - 8 + 2),
                   i -> CAST('0x' || substr(md5(substring(
                            s, CAST(i AS INT), 8)), 1, 14) AS BIGINT)
               ) AS hs
        FROM norm),
    fp0 AS (
        SELECT DISTINCT doc_id,
               list_min(list_slice(hs, CAST(j AS INT),
                                   CAST(j + 4 - 1 AS INT))) AS fingerprint
        FROM h, UNNEST(range(1, len(hs) - 4 + 2)) AS u(j)),
    kept AS (
        SELECT fingerprint FROM fp0
        GROUP BY 1 HAVING count(*) <= 50),
    fp AS (SELECT fp0.* FROM fp0 JOIN kept USING (fingerprint)),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM fp a JOIN fp b
          ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= 8
    """,
)
def dedup_winnow_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing-fingerprint near-dup pairs
    (`operators/dedup.py::{winnow_fingerprints,winnow_pairs}` —
    Schleimer/Wilkerson/Aiken rolling-hash selection, the MOSS
    algorithm): character-level substring overlap detection with the
    coverage guarantee token shingles can't give (any shared
    substring >= k+window-1 chars shares a fingerprint). Selection is
    one codegen projection per row (two nested transform/sequence
    expressions, no UDF); pairs come from the bucketed fingerprint
    self-join with the same max_bucket stop-fingerprint cap as the
    LSH family. The oracle replays the identical md5/hex→int/min
    arithmetic, so even hash collisions must agree."""
    from blackroad_feature_store_spark.operators.dedup import winnow_pairs

    return winnow_pairs(
        spread(load(spark, sf, "documents"), "doc_id"),
        k=8, window=4, min_shared=8, max_bucket=50,
    )


@q(
    "dedup_jaccard",
    _SQL_MINHASH_PAIRS
    + """,
    sh_d  AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh_d GROUP BY doc_id),
    inter AS (SELECT p.id_a, p.id_b, count(*) AS n_inter
              FROM pairs p
              JOIN sh_d a ON a.doc_id = p.id_a
              JOIN sh_d b ON b.doc_id = p.id_b AND b.shingle = a.shingle
              GROUP BY p.id_a, p.id_b)
    SELECT p.id_a, p.id_b,
           round(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                 / CAST(na.n + nb.n - COALESCE(i.n_inter, 0) AS DOUBLE),
                 6) AS jaccard
    FROM pairs p
    LEFT JOIN inter i USING (id_a, id_b)
    JOIN sizes na ON na.doc_id = p.id_a
    JOIN sizes nb ON nb.doc_id = p.id_b
    """,
)
def dedup_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard over the LSH candidate pairs — the
    verify stage of the dedup pipeline (pair-set-linear)."""
    docs = load(spark, sf, "documents")
    pairs = minhash_candidate_pairs(docs, num_bands=8, shingle_size=3)
    return ngram_jaccard(docs, pairs, shingle_size=3)


_SQL_COSINE = """
    round(
      list_sum(list_transform(list_zip(a.embedding, b.embedding),
                              p -> p[1]::DOUBLE * p[2]::DOUBLE))
      / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))),
      6)
"""


@q(
    "dedup_embedding",
    f"""
    SELECT * FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_SQL_COSINE} AS cosine
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id)
    WHERE cosine >= 0.3
    """,
)
def dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ τ) blocked by label — the
    self-join runs within blocks only."""
    return embedding_near_duplicates(
        load(spark, sf, "embeddings"), block_col="label", threshold=0.3
    )


# ---------------------------------------------------------------------------
# LLM-pipeline: similarity search
# ---------------------------------------------------------------------------


@q(
    "sim_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
               WHERE vec_id < 5),
    scored AS (
        SELECT a.query_id, b.vec_id AS neighbor_id,
               {_SQL_COSINE} AS score
        FROM q a CROSS JOIN embeddings b
        WHERE b.vec_id != a.query_id)
    SELECT query_id, neighbor_id, score,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY score DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def sim_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast query side, JVM zip_with/
    aggregate dot product, window top-k — the exactness baseline."""
    emb = load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, k=5, query_id_col="query_id")


@q(
    "sim_hard_negatives",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding, label
               FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT a.query_id, b.vec_id AS neighbor_id,
               {_SQL_COSINE} AS score
        FROM q a CROSS JOIN embeddings b
        WHERE b.vec_id != a.query_id
          AND b.label IS DISTINCT FROM a.label)
    SELECT query_id, neighbor_id, score,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY score DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def sim_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.py hard_negatives):
    per query the 5 most-similar DIFFERENT-label vectors — positives
    (same label) are excluded BEFORE ranking so a same-class
    near-duplicate can never crowd a true negative out of the top-k.
    The oracle's IS DISTINCT FROM mirrors the engine's null-safe label
    comparison. Same broadcast-query/window-top-k geometry as
    sim_cosine_topk."""
    from blackroad_feature_store_spark.operators.similarity import (
        hard_negatives,
    )

    emb = load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return hard_negatives(emb, queries, k=5, query_id_col="query_id")


@q(
    "sim_cosine_topk_gemm",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
               WHERE vec_id < 5),
    scored AS (
        SELECT a.query_id, b.vec_id AS neighbor_id,
               {_SQL_COSINE} AS score
        FROM q a CROSS JOIN embeddings b
        WHERE b.vec_id != a.query_id)
    SELECT query_id, neighbor_id, score,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY score DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def sim_cosine_topk_gemm(spark: SparkSession, sf: str) -> DataFrame:
    """The BLAS execution of exact brute-force top-k
    (`operators/similarity.py::cosine_topk_gemm`): Arrow batches ×
    broadcast query matrix through one numpy dgemm per batch, local
    top-k per batch, global window top-k — measured ~5× faster than
    the crossJoin form at 5k vectors × 200 queries, same contract.
    The oracle is the SAME SQL as sim_cosine_topk, so the gate proves
    the two execution strategies are value-identical."""
    from blackroad_feature_store_spark.operators.similarity import (
        cosine_topk_gemm,
    )

    emb = load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_gemm(emb, queries, k=5, query_id_col="query_id")


@q(
    "sim_cosine_topk_auto",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
               WHERE vec_id < 5),
    scored AS (
        SELECT a.query_id, b.vec_id AS neighbor_id,
               {_SQL_COSINE} AS score
        FROM q a CROSS JOIN embeddings b
        WHERE b.vec_id != a.query_id)
    SELECT query_id, neighbor_id, score,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY score DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def sim_cosine_topk_auto(spark: SparkSession, sf: str) -> DataFrame:
    """Auto-picked top-k (`operators/similarity.py::cosine_topk_auto`,
    VERDICT r9 item 8): |Q| within the broadcast contract selects the
    measured-dominant exact GEMM path; past it the caller must opt
    into the IVF/LSH tier. The oracle is the SAME SQL as
    sim_cosine_topk, so the gate proves the auto pick lands on a
    value-identical exact strategy. Pick boundaries are pytest-pinned
    (`test_operators.py::test_cosine_topk_auto_pick_boundaries`)."""
    from blackroad_feature_store_spark.operators.similarity import (
        cosine_topk_auto,
    )

    emb = load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_auto(emb, queries, k=5, query_id_col="query_id")


@q(
    "dedup_embedding_lsh",
    f"""
    WITH bucketed AS (
        SELECT vec_id, embedding,
               (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_SQL_COSINE} AS cosine
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_SQL_COSINE} >= 0.3
    """,
)
def dedup_embedding_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup on the 100 TB blocking contract: the block
    key is a sign-bit LSH bucket (`similarity.lsh_bucket`) instead of
    a fixed-cardinality label, so block count GROWS with the corpus
    and block sizes stay bounded — the documented scale path of
    `_chunked_cosine_pairs`, certified end-to-end (bucket construction
    + chunked GEMM pair set against the oracle's sign-bit CASE
    self-join). Same triangle-chunked execution as `dedup_embedding`."""
    from blackroad_feature_store_spark.operators.similarity import (
        lsh_bucket,
    )

    emb = load(spark, sf, "embeddings").select(
        "vec_id",
        "embedding",
        lsh_bucket(F.col("embedding"), nbits=4).alias("bucket"),
    )
    return embedding_near_duplicates(
        emb, block_col="bucket", threshold=0.3
    )


@q(
    "sim_cosine_topk_lsh",
    f"""
    WITH bucketed AS (
        SELECT vec_id, embedding,
               (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding, bucket FROM bucketed
          WHERE vec_id < 5),
    scored AS (
        SELECT a.query_id, b.vec_id AS neighbor_id,
               {_SQL_COSINE} AS score
        FROM q a JOIN bucketed b ON a.bucket = b.bucket
        WHERE b.vec_id != a.query_id)
    SELECT query_id, neighbor_id, score,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY score DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def sim_cosine_topk_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed ANN top-k: sign-bit bucket equi-join cuts the
    candidate set ~2^nbits-fold — the 100 TB path."""
    emb = load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_lsh(emb, queries, k=5, query_id_col="query_id", nbits=4)


def _random_plane_bits_sql() -> str:
    """DuckDB sign-bit expression for the seeded random-hyperplane
    family `similarity.random_hyperplanes(64, 4, seed=7)` — each plane
    inlined as full-precision literals (repr round-trips doubles), dot
    product written as the same sequential left-fold as Spark's
    `similarity.dot`."""
    from blackroad_feature_store_spark.operators.similarity import (
        random_hyperplanes,
    )

    cases = []
    for p in random_hyperplanes(64, 4, seed=7):
        lit = "[" + ", ".join(repr(x) for x in p) + "]"
        cases.append(
            "CASE WHEN list_sum(list_transform(list_zip(embedding, "
            f"{lit}), p -> p[1]::DOUBLE * p[2]::DOUBLE)) >= 0 "
            "THEN '1' ELSE '0' END"
        )
    return "(" + " || ".join(cases) + ")"


@q(
    "sim_cosine_topk_auto_approx",
    f"""
    WITH bucketed AS (
        SELECT vec_id, embedding, {_random_plane_bits_sql()} AS bucket
        FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding, bucket FROM bucketed
          WHERE vec_id < 32),
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT a.query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY a.query_id
                       ORDER BY {_SQL_COSINE} DESC, b.vec_id) AS rank
            FROM q a JOIN bucketed b
              ON a.bucket = b.bucket AND b.vec_id != a.query_id)
        WHERE rank <= 5),
    brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT a.query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY a.query_id
                       ORDER BY {_SQL_COSINE} DESC, b.vec_id) AS rank
            FROM q a CROSS JOIN embeddings b
            WHERE b.vec_id != a.query_id)
        WHERE rank <= 5),
    per AS (
        SELECT q.query_id,
               CAST(count(approx.neighbor_id) AS BIGINT) AS n_candidates,
               CAST(count(brute.neighbor_id) AS BIGINT) AS n_hits
        FROM q
        LEFT JOIN approx ON approx.query_id = q.query_id
        LEFT JOIN brute ON brute.query_id = approx.query_id
             AND brute.neighbor_id = approx.neighbor_id
        GROUP BY q.query_id)
    SELECT query_id, n_candidates, n_hits, recall, mean_recall,
           mean_recall >= 0.08 AS bound_ok
    FROM (SELECT query_id, n_candidates, n_hits,
                 round(n_hits / 5.0, 6) AS recall,
                 round(sum(n_hits) OVER () /
                       (5.0 * count(*) OVER ()), 6) AS mean_recall
          FROM per)
    """,
)
def sim_cosine_topk_auto_approx(spark: SparkSession, sf: str) -> DataFrame:
    """The auto-pick's DEGRADED tier, certified end-to-end (VERDICT
    r10 item 8): 32 queries against ``max_queries=8`` force
    `operators/similarity.py::cosine_topk_auto` past the exact-GEMM
    broadcast contract, and ``allow_approximate=True`` with no index
    artifacts degrades it to random-hyperplane sign-bit LSH
    (`random_hyperplanes(64, 4, seed=7)` — the production recall knob
    the axis-aligned family trades away). The query then computes
    recall against the exact brute-force top-5 IN-QUERY — per-query
    and mean — and pins the floor ``mean_recall >= 0.08`` (measured
    0.14–0.16 at both SFs; ~2× above the floor and well above the
    ~0.05 top-5 chance rate at sf0.01, honest for a single 16-bucket
    table probing ~1/16 of the corpus). The oracle replays bucket
    assignment (plane literals, same sequential-left-fold dot),
    candidate cut, both rankings, and the recall arithmetic, so the
    ENTIRE degraded path is hash-certified, not just its final
    cosines. Mean recall is ``sum(n_hits)/(k·|Q|)`` — integer sums,
    one division — so no float-summation-order divergence."""
    from blackroad_feature_store_spark.operators.similarity import (
        cosine_topk_auto,
        cosine_topk_gemm,
        random_hyperplanes,
    )

    emb = load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    planes = random_hyperplanes(64, 4, seed=7)
    approx = cosine_topk_auto(
        emb, queries, k=5, query_id_col="query_id", max_queries=8,
        allow_approximate=True, hyperplanes=planes,
    ).select("query_id", "neighbor_id")
    # exact reference via the GEMM path (hash-certified value-identical
    # to the crossJoin form by sim_cosine_topk_gemm) — the brute side
    # is this query's dominant term and dgemm is the measured pick
    brute = cosine_topk_gemm(
        emb, queries, k=5, query_id_col="query_id"
    ).select("query_id", "neighbor_id")
    marked = approx.join(
        brute.withColumn("__hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    per = (
        queries.select("query_id")
        .join(marked, "query_id", "left")
        .groupBy("query_id")
        .agg(
            F.count("neighbor_id").cast("long").alias("n_candidates"),
            F.count("__hit").cast("long").alias("n_hits"),
        )
    )
    w = Window.partitionBy(F.lit(1))
    return per.select(
        "query_id",
        "n_candidates",
        "n_hits",
        F.round(F.col("n_hits") / F.lit(5.0), 6).alias("recall"),
        F.round(
            F.sum("n_hits").over(w)
            / (F.lit(5.0) * F.count(F.lit(1)).over(w)),
            6,
        ).alias("mean_recall"),
    ).withColumn("bound_ok", F.col("mean_recall") >= 0.08)


# ---------------------------------------------------------------------------
# LLM-pipeline: text analysis
# ---------------------------------------------------------------------------

# lang-ID score expressions, mirrored from operators/text.py
_SQL_STOP = {
    "en": r"\b(the|a|of|and|to|in|is)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein)\b",
    "es": r"\b(el|la|de|que|y|los|una)\b",
    "fr": r"\b(le|la|les|et|des|une|est)\b",
}
_SQL_LANG_SCORES = ",\n".join(
    f"len(regexp_extract_all(lower(text), '{pat}')) AS s_{lang}"
    for lang, pat in _SQL_STOP.items()
)
_SQL_LANG_PRED = """
    CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0
         THEN 'zh'
         WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unknown'
         WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
         WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
         WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
         ELSE 'fr' END
"""

_SQL_PROFILE_BASE = f"""
    raw AS (
      SELECT doc_id, text, lang, source,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
             length(regexp_replace(text, '[^0-9]',    '', 'g')) AS n_digit,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
             length(regexp_replace(text, '[^A-Z]',    '', 'g')) AS n_upper,
             length(regexp_replace(text, '[^\\s]',    '', 'g')) AS n_ws,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                 AS n_tokens,
             len(regexp_extract_all(lower(text),
                 '\\b(the|a|of|and|to|in|is)\\b')) AS n_stop,
             {_SQL_LANG_SCORES}
      FROM documents),
    prof AS (
      SELECT doc_id, lang, source, n_chars, n_tokens,
             round(CASE WHEN n_chars = 0 THEN 0.0
                   ELSE n_alpha::DOUBLE / n_chars END, 6) AS alpha_ratio,
             round(CASE WHEN n_chars = 0 THEN 0.0
                   ELSE n_digit::DOUBLE / n_chars END, 6) AS digit_ratio,
             round(CASE WHEN n_chars = 0 THEN 0.0
                   ELSE n_punct::DOUBLE / n_chars END, 6) AS punct_ratio,
             round(CASE WHEN n_alpha = 0 THEN 0.0
                   ELSE n_upper::DOUBLE / n_alpha END, 6) AS upper_ratio,
             round(CASE WHEN n_tokens = 0 THEN 0.0
                   ELSE n_stop::DOUBLE / n_tokens END, 6) AS stopword_ratio,
             round(CASE WHEN n_tokens = 0 THEN 0.0
                   ELSE (n_chars - n_ws)::DOUBLE / n_tokens END, 6)
                 AS mean_token_len,
             {_SQL_LANG_PRED} AS lang_pred,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bpe_tokens,
             {_SQL_FINGERPRINT} AS fingerprint
      FROM raw),
    scored AS (
      -- quality is blended in DECIMAL over the published (rounded)
      -- ratios: double arithmetic here can land a document exactly on
      -- a round(,6) boundary and flip per engine (seen at sf0.1).
      -- least() coerces DECIMAL→DOUBLE in DuckDB, so the caps are
      -- CASE expressions, which preserve the decimal type.
      SELECT *,
             CAST(round(
                 0.4 * CAST(alpha_ratio AS DECIMAL(18,6))
                 + 0.3 * (CASE WHEN CAST(stopword_ratio AS DECIMAL(18,6)) * 5
                                    < CAST(1 AS DECIMAL(18,6))
                               THEN CAST(stopword_ratio AS DECIMAL(18,6)) * 5
                               ELSE CAST(1 AS DECIMAL(18,6)) END)
                 + 0.2 * (CASE WHEN n_tokens BETWEEN 10 AND 100000
                               THEN CAST(1 AS DECIMAL(18,6))
                               ELSE CAST(0 AS DECIMAL(18,6)) END)
                 + 0.1 * (CAST(1 AS DECIMAL(18,6))
                          - (CASE WHEN CAST(punct_ratio AS DECIMAL(18,6)) * 10
                                       < CAST(1 AS DECIMAL(18,6))
                                  THEN CAST(punct_ratio AS DECIMAL(18,6)) * 10
                                  ELSE CAST(1 AS DECIMAL(18,6)) END)), 6)
             AS DOUBLE) AS quality
      FROM prof)
"""


@q(
    "pipeline_gopher_rules",
    f"""
    WITH {_SQL_PROFILE_BASE},
    tok2 AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x <> '') AS tk
        FROM documents),
    alpha AS (
        SELECT doc_id,
               CASE WHEN len(tk) > 0 THEN
                   round(len(list_filter(tk,
                             x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                         / len(tk), 6)
               END AS atf
        FROM tok2),
    rules AS (
        SELECT p.doc_id,
               CASE WHEN p.n_tokens BETWEEN 20 AND 100000
                    THEN 1 ELSE 0 END AS r_token_count,
               CASE WHEN p.mean_token_len >= 3.0
                     AND p.mean_token_len <= 10.0
                    THEN 1 ELSE 0 END AS r_mean_token_len,
               CASE WHEN p.punct_ratio <= 0.1 THEN 1 ELSE 0 END AS r_punct,
               CASE WHEN COALESCE(a.atf >= 0.8, FALSE)
                    THEN 1 ELSE 0 END AS r_alpha_tokens,
               CASE WHEN r.n_stop >= 2 THEN 1 ELSE 0 END AS r_stopwords
        FROM prof p JOIN alpha a USING (doc_id)
        JOIN raw r USING (doc_id))
    SELECT doc_id, r_token_count, r_mean_token_len, r_punct,
           r_alpha_tokens, r_stopwords,
           r_token_count * r_mean_token_len * r_punct
               * r_alpha_tokens * r_stopwords AS pass_all
    FROM rules
    """,
)
def pipeline_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """The Gopher rule battery
    (`operators/text.py::gopher_rules` — Rae et al. 2021 §A1.1): every
    cheap structural check as its own verdict column plus the
    composite, over the real corpus. All signals are exact counts and
    round(,6) rationals — the oracle replays each rule bit-for-bit."""
    from blackroad_feature_store_spark.operators.text import gopher_rules

    docs = load(spark, sf, "documents").select("doc_id", "text")
    return gopher_rules(docs)


@q(
    "text_hash_embedding_profile",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(
                   regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),
                   x -> x <> '')) AS term
        FROM documents),
    b AS (SELECT doc_id,
                 CAST(CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) % 64
                      AS INT) AS bucket
          FROM toks),
    cnt AS (SELECT doc_id, bucket, count(*) AS n FROM b GROUP BY 1, 2)
    SELECT doc_id,
           count(*) AS n_buckets_used,
           CAST(sum(n * n) AS BIGINT) AS l2norm_sq,
           CAST(sum(bucket * n) AS BIGINT) AS checksum
    FROM cnt GROUP BY doc_id
    """,
)
def text_hash_embedding_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Certification of the hashing-trick embedding construction
    (`operators/text.py::hash_embedding`): per document, the exact
    integer profile of the bucketed vector — buckets used, squared
    L2 norm, index-weighted checksum — replayed bit-for-bit by the
    oracle's md5-bucket SQL. (Similarity BEHAVIOR over these vectors
    is pytest-pinned; float cosine values aren't hash-comparable
    cross-engine, the integer construction is.)"""
    toks = F.filter(
        F.split(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z]+", " "), " "
        ),
        lambda x: x != "",
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("__tok")), 1, 8), 16, 10)
        .cast("long")
        % 64
    ).cast("int")
    # spread the compact (doc_id, text) rows before the md5-heavy
    # explode stage (single scan partition otherwise — the 10x probe
    # measured 15.6x); keyed on doc_id, so BOTH downstream groupBys
    # (doc_id,__b) and (doc_id) reuse the partitioning — no extra
    # exchange.
    docs = spread(
        load(spark, sf, "documents").select("doc_id", "text"), "doc_id"
    )
    cnt = (
        docs.select("doc_id", F.explode(toks).alias("__tok"))
        .select("doc_id", bucket.alias("__b"))
        .groupBy("doc_id", "__b")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return cnt.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_buckets_used"),
        F.sum(F.col("__n") * F.col("__n"))
        .cast("long")
        .alias("l2norm_sq"),
        F.sum(F.col("__b") * F.col("__n")).cast("long").alias("checksum"),
    )


@q(
    "text_quality_profile",
    f"""
    WITH {_SQL_PROFILE_BASE}
    SELECT doc_id, n_chars, n_tokens, alpha_ratio, digit_ratio,
           punct_ratio, upper_ratio, stopword_ratio, mean_token_len,
           lang_pred, quality, fingerprint, CAST(bpe_tokens AS BIGINT)
               AS bpe_tokens
    FROM scored
    """,
)
def text_quality_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: token counts, quality ratios, heuristic lang-ID,
    BPE-ish token count, fingerprint — pure narrow projections."""
    prof = text_profile(spread(load(spark, sf, "documents"), "doc_id"))
    return prof.select(
        "doc_id", "n_chars", "n_tokens", "alpha_ratio", "digit_ratio",
        "punct_ratio", "upper_ratio", "stopword_ratio", "mean_token_len",
        "lang_pred", "quality", "fingerprint",
        F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
    )


@q(
    "text_lang_confusion",
    f"""
    WITH {_SQL_PROFILE_BASE}
    SELECT lang, lang_pred, count(*) AS n
    FROM scored GROUP BY lang, lang_pred
    """,
)
def text_lang_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Lang-ID confusion matrix vs the table's labeled lang."""
    prof = text_profile(spread(load(spark, sf, "documents"), "doc_id"))
    return prof.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))


@q(
    "text_lang_id",
    """
    WITH train AS (
        SELECT doc_id, lang,
               trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) AS s
        FROM documents WHERE doc_id % 5 < 2),
    alldocs AS (
        SELECT doc_id, lang,
               trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) AS s
        FROM documents),
    tok AS (
        SELECT doc_id, lang, substring(s, CAST(i AS INT), 3) AS w
        FROM train, UNNEST(range(1, length(s) - 1)) AS u(i)
        WHERE length(s) >= 3),
    cw AS (SELECT lang AS cls, w, count(*) AS cw FROM tok GROUP BY 1, 2),
    ct AS (SELECT lang AS cls, count(*) AS ct FROM tok GROUP BY 1),
    v AS (SELECT count(DISTINCT w) AS v FROM tok),
    dc AS (SELECT lang AS cls, count(*) AS dc FROM train GROUP BY 1),
    dt AS (SELECT count(*) AS dt FROM train),
    classes AS (
        SELECT ct.cls,
               CAST(round(ln(dc.dc / CAST(dt.dt AS DOUBLE)), 4)
                    AS DECIMAL(18,4)) AS prior,
               CAST(round(ln(1.0 / CAST(ct.ct + v.v AS DOUBLE)), 4)
                    AS DECIMAL(18,4)) AS floor_w
        FROM ct JOIN dc ON ct.cls = dc.cls CROSS JOIN v CROSS JOIN dt),
    weights AS (
        SELECT cw.cls, cw.w,
               CAST(round(ln((cw.cw + 1)
                             / CAST(ct.ct + v.v AS DOUBLE)), 4)
                    AS DECIMAL(18,4)) AS lw
        FROM cw JOIN ct ON cw.cls = ct.cls CROSS JOIN v),
    stok AS (
        SELECT doc_id, substring(s, CAST(i AS INT), 3) AS w
        FROM alldocs, UNNEST(range(1, length(s) - 1)) AS u(i)
        WHERE length(s) >= 3),
    toksum AS (
        SELECT t.doc_id, c.cls,
               sum(COALESCE(weights.lw, c.floor_w)) AS tok_sum,
               count(*) AS n_tok
        FROM stok t CROSS JOIN classes c
        LEFT JOIN weights ON weights.w = t.w AND weights.cls = c.cls
        GROUP BY 1, 2),
    scored AS (
        SELECT d.doc_id, c.cls,
               c.prior + COALESCE(ts.tok_sum,
                                  CAST(0 AS DECIMAL(18,4))) AS score,
               COALESCE(ts.n_tok, 0) AS n_tok
        FROM alldocs d CROSS JOIN classes c
        LEFT JOIN toksum ts
          ON ts.doc_id = d.doc_id AND ts.cls = c.cls),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cls ASC) AS rn,
               lead(score) OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, cls ASC) AS second
        FROM scored)
    SELECT r.doc_id, r.cls AS pred_lang,
           CAST(r.score AS DOUBLE) AS score_top,
           round(CAST(r.score - r.second AS DOUBLE), 6) AS margin,
           CAST(r.n_tok AS BIGINT) AS n_grams,
           (r.cls = d.lang) AS is_correct
    FROM ranked r JOIN alldocs d USING (doc_id)
    WHERE r.rn = 1
    """,
)
def text_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """MODEL-BASED language ID (VERDICT r9 "What's missing" #3 — the
    CCNet-class upgrade over the `text_lang_confusion` n-gram
    heuristic): train `operators/corpus.py::nb_classify` in
    ``char3`` mode on the seeded labeled sample (doc_id % 5 < 2 with
    the table's ``lang`` labels — a deterministic 40% split), then
    score EVERY document by character-trigram Naive Bayes. Character
    n-grams are the standard lang-ID feature — orthography and
    function-morphology, no language-specific tokenizer — and NB's
    train-and-score is two count aggregations, so the trained model
    replays bit-for-bit in the oracle (4dp-quantized log weights,
    exact-DECIMAL accumulation; same replay contract as
    `pipeline_nb_source_classify`).

    Note on accuracy here: the synthetic corpus draws every lang's
    text from ONE shared token vocabulary, so the label carries no
    textual signal and measured accuracy ≈ the majority prior by
    construction. What this query certifies is the trained-model
    replay; `tests/test_operators.py::test_nb_classify_char_mode`
    pins real discriminative behavior on a corpus where languages
    actually differ.

    r11 (VERDICT r10 item 3): train is a predicate-defined subset of
    the scored corpus, so this uses `nb_classify_self` — the corpus
    is char-trigram-tokenized ONCE and the train-side (class, gram)
    counts derive from the shared aggregated gram scan, cutting the
    ~40% duplicate tokenization work; scores are unchanged
    (exact-DECIMAL replay, same oracle)."""
    from blackroad_feature_store_spark.operators.corpus import (
        nb_classify_self,
    )

    docs = spread(
        load(spark, sf, "documents").select("doc_id", "text", "lang"),
        "doc_id",
    )
    pred = nb_classify_self(
        docs.withColumn("label", F.col("lang")),
        F.col("doc_id") % 5 < 2,
        token_mode="char3",
    )
    return pred.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        F.col("pred_label").alias("pred_lang"),
        "score_top",
        "margin",
        F.col("n_tokens").cast("long").alias("n_grams"),
        (F.col("pred_label") == F.col("lang")).alias("is_correct"),
    )


@q(
    "text_stats_by_source",
    f"""
    WITH {_SQL_PROFILE_BASE}
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(quality), 6) AS avg_quality
    FROM scored GROUP BY source
    """,
)
def text_stats_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus rollup per source: doc/token counts + mean quality."""
    prof = text_profile(spread(load(spark, sf, "documents"), "doc_id"))
    return prof.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )


# ---------------------------------------------------------------------------
# LLM-pipeline: multimodal columns
# ---------------------------------------------------------------------------


@q(
    "mm_asset_metadata",
    """
    SELECT doc_id AS asset_id,
           'text' AS modality,
           CAST(strlen(text) AS INT) AS n_bytes,
           md5(text) AS content_md5,
           lang   AS meta_lang,
           source AS meta_source
    FROM documents
    """,
)
def mm_asset_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal: binary asset column + queryable metadata — the
    no-decode projection (octet_length/md5 over binary payloads)."""
    assets = documents_as_assets(load(spark, sf, "documents"))
    return asset_metadata(assets)


@q(
    "mm_dhash_pairs",
    f"""
    WITH u AS (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + {_SQL_DOC_SHIFT}, text FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(0 AS INT) AS distance
    FROM u a JOIN u b ON a.text = b.text AND a.doc_id < b.doc_id
    """,
)
def mm_dhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual-hash near-dup pair generation
    (`operators/multimodal.py::{image_dhash,dhash_duplicate_pairs}`):
    the banded self-join over 16-bit hash bands with the
    bit_count-XOR verify, run at max_distance=0 over the asset-wrapped
    corpus (documents ∪ re-keyed documents so every asset has exactly
    one duplicate). At distance 0 the contract is exact — pairs ⇔
    identical payloads ⇔ equal text — so the oracle needs no hash
    replay, just the text self-join. The REAL pixel-dHash distance
    behavior (re-encodes at 0 bits, edits within a few bits, corrupt
    payloads NULLed out) is pinned by the PNG-decoding pytest."""
    from blackroad_feature_store_spark.operators.multimodal import (
        dhash_duplicate_pairs,
        image_dhash,
    )

    docs = load(spark, sf, "documents")
    u = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + _doc_id_shift(docs))
    )
    assets = documents_as_assets(u)
    hashes = image_dhash(assets, fake=True)
    return dhash_duplicate_pairs(hashes, max_distance=0)


@q(
    "mm_frame_samples",
    """
    SELECT doc_id AS asset_id,
           CAST(frame_no AS INT) AS frame_no,
           CAST(strlen(substr(text, frame_no * 64 + 1, 64)) AS INT)
               AS n_frame_bytes,
           md5(substr(text, frame_no * 64 + 1, 64)) AS frame_md5
    FROM documents
    CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS frame_no)
    WHERE frame_no <= least(7, strlen(text) // 64)
    """,
)
def mm_frame_samples(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal: fixed-stride frame sampling over binary payloads
    (binary substring — a projection, shrinks data before any
    shuffle). Oracle works because the documents payload is ASCII."""
    assets = documents_as_assets(load(spark, sf, "documents"))
    frames = sample_frames(assets, every_n_bytes=64, max_frames=8)
    return frames.select(
        "asset_id",
        F.col("frame_no").cast("int").alias("frame_no"),
        F.octet_length("frame_bytes").cast("int").alias("n_frame_bytes"),
        F.md5("frame_bytes").alias("frame_md5"),
    )


@q(
    "mm_image_features",
    """
    SELECT doc_id AS asset_id,
           64 + CAST(('0x' || substr(sha256(text), 1, 2)) AS INT) % 192
               AS width,
           64 + CAST(('0x' || substr(sha256(text), 3, 2)) AS INT) % 192
               AS height,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256
    FROM documents
    """,
)
def mm_image_features(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal decode plumbing: mapInPandas Arrow-batch kernel with
    the deterministic fake decoder (no image codec in this container —
    honestly stubbed; schema/batching/partitioning are real). The fake
    decode derives dimensions from the payload digest, so the oracle
    can verify the whole Python-kernel path byte-for-byte."""
    assets = documents_as_assets(load(spark, sf, "documents"))
    return image_features(assets, fake=True)


# ---------------------------------------------------------------------------
# Streaming (batch-mode parity check of the streaming aggregation plan)
# ---------------------------------------------------------------------------


@q(
    "stream_windowed_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 6) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_windowed_counts(spark: SparkSession, sf: str) -> DataFrame:
    """The Structured-Streaming windowed aggregation (watermark +
    event-time tumbling window), run on the batch DataFrame where
    withWatermark is a no-op — same plan the stream executes."""
    ev = load(spark, sf, "events")
    wc = windowed_counts(ev, ts_col="ts", key_col="event_type",
                         window_duration="1 hour", watermark="2 hours")
    return wc.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "n",
        F.round("sum_value", 6).alias("sum_value"),
    )


@q(
    "stream_exec_windowed",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 6) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_exec_windowed(spark: SparkSession, sf: str) -> DataFrame:
    """A GENUINE Structured Streaming execution certified by the SQL
    oracle: ``readStream`` over the events parquet → watermark +
    event-time tumbling window (`streaming/ingest.py::windowed_counts`)
    → availableNow drain into a memory sink → sink contents returned.
    Complete output mode, so every window (including ones newer than
    the final watermark, which append mode would withhold) is emitted
    and the result equals the batch GROUP BY exactly — this is the
    streaming/batch unification Structured Streaming promises, pinned
    query-for-query against DuckDB. `stream_windowed_counts` checks
    the same PLAN in batch mode; this entry actually runs the stream.
    """
    wc = windowed_counts(_table_stream(spark, sf, "events"), ts_col="ts",
                         key_col="event_type", window_duration="1 hour",
                         watermark="2 hours")
    return _drain_memory(wc, mode="complete").select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "n",
        F.round("sum_value", 6).alias("sum_value"),
    )


@q(
    "stream_exec_dedup",
    f"SELECT DISTINCT {_SQL_FINGERPRINT} AS fingerprint FROM documents",
)
def stream_exec_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """A GENUINE streaming dedup execution certified by the oracle:
    ``readStream`` over documents → normalized-content fingerprint →
    ``dropDuplicatesWithinWatermark`` (bounded state — fingerprints
    age out past the watermark horizon; `streaming/dedup.py`) →
    availableNow drain into a memory sink. The surviving FINGERPRINT
    set is deterministic (which duplicate survives is not — first-seen
    by processing order — so only the fingerprint column is returned)
    and equals batch `SELECT DISTINCT md5(normalized)`; event time is
    synthesized from doc_id since documents carries no timestamp."""
    from blackroad_feature_store_spark.streaming.dedup import dedup_stream

    # One-day base offset: doc_id 0 would otherwise synthesize event
    # time == epoch 0 == the stream's initial watermark, and a row at
    # the watermark is dropped as late.
    docs = _table_stream(spark, sf, "documents").withColumn(
        "ts",
        F.timestamp_micros((F.col("doc_id") + F.lit(86_400)) * 1_000_000),
    )
    deduped = dedup_stream(docs, ts_col="ts", text_col="text",
                           late_threshold="10 minutes")
    return _drain_memory(deduped).select("fingerprint")


@q(
    "stream_exec_neardup",
    _SQL_MINHASH_PAIRS + "SELECT id_a, id_b FROM pairs",
)
def stream_exec_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """A GENUINE streaming NEAR-dup execution certified by the batch
    LSH oracle: documents split into two parquet files → file-source
    stream with ``maxFilesPerTrigger=1`` (two real micro-batches) →
    ``streaming/neardup.py`` foreachBatch incremental LSH against the
    growing parquet signature store → the accumulated pairs table.
    The streamed pair set equals batch ``minhash_candidate_pairs`` on
    the full corpus EXACTLY (new-vs-existing catches every cross-batch
    pair, new-vs-new the within-batch ones), so the shared minhash
    oracle certifies the incremental construction end-to-end."""
    from blackroad_feature_store_spark.streaming.neardup import (
        start_neardup_stream,
    )

    base = _scratch("stream_neardup_")
    docs = load(spark, sf, "documents").select("doc_id", "text")
    _await(start_neardup_stream(
        _split_source(docs, base, "doc_id"),
        sig_path=f"{base}/sigs",
        pairs_path=f"{base}/pairs",
        checkpoint=f"{base}/ckpt",
        available_now=True,
    ))
    return spark.read.parquet(f"{base}/pairs").select("id_a", "id_b")


@q(
    "stream_exec_drift_monitor",
    """
    WITH b AS (
        SELECT event_type,
               CAST(least(greatest(floor((value - 0.0) / 50.0), 0), 9)
                    AS INT) AS bin,
               CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                    THEN 1 ELSE 0 END AS r
        FROM events),
    c AS (SELECT event_type, bin, sum(r) AS n_ref, sum(1 - r) AS n_cur
          FROM b GROUP BY 1, 2),
    frame AS (
        SELECT k.event_type, g.bin
        FROM (SELECT DISTINCT event_type FROM events) k
        CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin) g),
    f AS (SELECT fr.event_type, fr.bin,
                 coalesce(c.n_ref, 0) AS n_ref,
                 coalesce(c.n_cur, 0) AS n_cur
          FROM frame fr LEFT JOIN c
            ON fr.event_type = c.event_type AND fr.bin = c.bin),
    t AS (SELECT event_type, sum(n_ref) AS tot_ref, sum(n_cur) AS tot_cur
          FROM f GROUP BY 1)
    SELECT f.event_type,
           CAST(sum(f.n_ref) AS BIGINT) AS n_ref,
           CAST(sum(f.n_cur) AS BIGINT) AS n_cur,
           round(sum(
               ((f.n_ref + 0.5) / (t.tot_ref + 5.0)
                - (f.n_cur + 0.5) / (t.tot_cur + 5.0))
               * ln(((f.n_ref + 0.5) / (t.tot_ref + 5.0))
                    / ((f.n_cur + 0.5) / (t.tot_cur + 5.0)))), 6) AS psi
    FROM f JOIN t USING (event_type)
    GROUP BY f.event_type
    """,
)
def stream_exec_drift_monitor(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING drift monitoring (streaming/stats.py histogram path):
    the training-window histogram (ts < 2024-01-16) is pinned once as
    the baseline; the serving window streams in two real micro-batches
    through foreachBatch histogram partials (batch_id-partitioned,
    replay-idempotent), and PSI is computed from the FOLDED histogram
    against the baseline — drift monitoring that never rescans
    history. The oracle is the identical batch PSI over the whole
    table (same binning [0,500)/10, same 0.5-Laplace smoothing, same
    completed bin frame as `drift_psi`), so parity certifies that
    incremental maintenance + fold + keys-union PSI equals the
    recompute exactly."""
    from blackroad_feature_store_spark.streaming.stats import (
        merge_histogram,
        partial_histogram,
        process_hist_batch,
        psi_vs_baseline,
    )

    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    ev = load(spark, sf, "events").select("event_id", "ts", "event_type",
                                          "value")
    baseline = partial_histogram(
        ev.where(F.col("ts") < cutoff),
        ["event_type"], "value", 0.0, 500.0, 10,
    )
    base = _scratch("stream_drift_")
    cur = ev.where(F.col("ts") >= cutoff).select(
        "event_id", "event_type", "value"
    )
    hist_path = f"{base}/hist"
    _drain_foreach(
        _split_source(cur, base, "event_id"),
        lambda batch_df, batch_id: process_hist_batch(
            batch_df, batch_id, hist_path,
            ["event_type"], "value", 0.0, 500.0, 10,
        ),
        base,
    )
    return psi_vs_baseline(
        merge_histogram(spark, hist_path),
        baseline,
        key_cols=["event_type"],
        n_bins=10,
    ).select("event_type", "n_ref", "n_cur", "psi")


@q(
    "stream_exec_expectations",
    """
    SELECT 'not_null' AS check, 'user_id' AS target,
           CAST(count(*) AS BIGINT) AS total,
           CAST(coalesce(sum(CASE WHEN user_id IS NULL
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS violations,
           coalesce(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END),
                    0) = 0 AS passed
    FROM events
    UNION ALL
    SELECT 'in_range', 'value',
           CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN value IS NOT NULL
                     AND (value < 0.0 OR value > 400.0)
                     THEN 1 ELSE 0 END), 0) AS BIGINT),
           coalesce(sum(CASE WHEN value IS NOT NULL
                     AND (value < 0.0 OR value > 400.0)
                     THEN 1 ELSE 0 END), 0) = 0
    FROM events
    UNION ALL
    SELECT 'regex', 'event_type',
           CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN event_type IS NOT NULL
                     AND NOT regexp_matches(event_type,
                                            '^(click|view|purchase)$')
                     THEN 1 ELSE 0 END), 0) AS BIGINT),
           coalesce(sum(CASE WHEN event_type IS NOT NULL
                     AND NOT regexp_matches(event_type,
                                            '^(click|view|purchase)$')
                     THEN 1 ELSE 0 END), 0) = 0
    FROM events
    UNION ALL
    SELECT 'accepted_values', 'event_type',
           CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN event_type IS NOT NULL
                     AND event_type NOT IN
                         ('click', 'view', 'purchase', 'signup')
                     THEN 1 ELSE 0 END), 0) AS BIGINT),
           coalesce(sum(CASE WHEN event_type IS NOT NULL
                     AND event_type NOT IN
                         ('click', 'view', 'purchase', 'signup')
                     THEN 1 ELSE 0 END), 0) = 0
    FROM events
    UNION ALL
    SELECT 'foreign_key', 'user_id',
           CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN e.user_id IS NOT NULL
                     AND c.c_custkey IS NULL
                     THEN 1 ELSE 0 END), 0) AS BIGINT),
           coalesce(sum(CASE WHEN e.user_id IS NOT NULL
                     AND c.c_custkey IS NULL
                     THEN 1 ELSE 0 END), 0) = 0
    FROM events e LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      ON e.user_id = c.c_custkey
    """,
)
def stream_exec_expectations(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING data-quality expectations (streaming/quality.py —
    Deequ-on-streams): events drain in two REAL micro-batches, each
    landing its own (check, target, total, violations) partial in a
    replay-idempotent batch_id partition; the running verdict is a
    monoid fold. The check set mixes passing (not_null, foreign_key
    vs the static customer dimension) and failing (value range,
    anchored regex, accepted_values — 'error'/'signup' rows) gates.
    The oracle recomputes every check over the WHOLE table in one
    batch — parity certifies fold-of-batches == batch recompute
    exactly, the mergeability contract that bounds the streaming
    check catalog ('unique' is rejected: per-batch uniqueness is not
    global uniqueness)."""
    from blackroad_feature_store_spark.streaming.quality import (
        merge_expectations,
        start_expectations_stream,
    )

    base = _scratch("stream_exp_")
    stream = _split_source(load(spark, sf, "events"), base, "event_id")
    checks = [
        {"check": "not_null", "col": "user_id"},
        {"check": "in_range", "col": "value", "min": 0.0, "max": 400.0},
        {"check": "regex", "col": "event_type",
         "pattern": "^(click|view|purchase)$"},
        {"check": "accepted_values", "col": "event_type",
         "values": ["click", "view", "purchase", "signup"]},
        {"check": "foreign_key", "col": "user_id",
         "ref": load(spark, sf, "customer"), "ref_col": "c_custkey"},
    ]
    _await(start_expectations_stream(
        stream, f"{base}/store", f"{base}/ckpt", checks,
        available_now=True,
    ))
    return merge_expectations(spark, f"{base}/store")


@q(
    "stream_exec_unique_gate",
    """
    SELECT 'unique' AS check, 'user_id' AS target,
           CAST(count(*) AS BIGINT) AS total,
           CAST(count(*) - count(DISTINCT user_id) AS BIGINT)
               AS violations,
           count(*) = count(DISTINCT user_id) AS passed
    FROM events
    UNION ALL
    SELECT 'unique', 'event_id',
           CAST(count(*) AS BIGINT),
           CAST(count(*) - count(DISTINCT event_id) AS BIGINT),
           count(*) = count(DISTINCT event_id)
    FROM events
    """,
)
def stream_exec_unique_gate(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING uniqueness gate (streaming/quality.py::
    start_unique_gate_stream — VERDICT r10 item 5): 'unique' is not
    mergeable as a row-local check, but composed with a persisted
    seen-key store that decides duplicate-ness against ALL history at
    arrival (first seen wins, JVM anti-join per batch), the per-batch
    duplicate counts fold additively. Two gates drain the events
    table in two REAL micro-batches each: ``user_id`` (massively
    repeated — and split so each batch holds ids the other batch also
    has, the exact cross-batch case a per-batch uniqueness check
    provably under-counts) and ``event_id`` (globally unique — the
    passing gate). The oracle recomputes ``count(*) -
    count(distinct)`` over the WHOLE table in one batch; parity
    certifies fold-of-batches == whole-history recompute exactly."""
    from blackroad_feature_store_spark.streaming.quality import (
        merge_expectations,
        start_unique_gate_stream,
    )

    base = _scratch("stream_uni_")
    # 8 files (a parallel write — no coalesce(1) serial funnel at
    # scale), 4 per trigger. First-seen-wins accounting is
    # arrival-order invariant (the fold sums to count - distinct
    # under ANY file->batch assignment).
    stream = _split_source(
        load(spark, sf, "events"), base, "event_id", files=8, per_trigger=4
    )
    # both gates drain CONCURRENTLY (separate stores + checkpoints —
    # independent streams, and local[32] has the idle slots): wall
    # time is one drain, not two
    gates = [
        start_unique_gate_stream(
            stream, f"{base}/store_{key}", f"{base}/ckpt_{key}",
            key, available_now=True,
        )
        for key in ("user_id", "event_id")
    ]
    for q_ in gates:
        _await(q_)
    merged = [
        merge_expectations(spark, f"{base}/store_{key}")
        for key in ("user_id", "event_id")
    ]
    return merged[0].unionByName(merged[1])


@q(
    "stream_exec_decontaminate",
    r"""
    WITH norm AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
        FROM documents),
    h AS (
        SELECT doc_id,
               list_transform(range(1, length(s) - 8 + 2),
                   i -> CAST('0x' || substr(md5(substring(
                            s, CAST(i AS INT), 8)), 1, 14) AS BIGINT)
               ) AS hs
        FROM norm),
    fp AS (
        SELECT DISTINCT doc_id,
               list_min(list_slice(hs, CAST(j AS INT),
                                   CAST(j + 4 - 1 AS INT))) AS fingerprint
        FROM h, UNNEST(range(1, len(hs) - 4 + 2)) AS u(j)),
    bench AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 23 = 0),
    hits AS (
        SELECT f.doc_id FROM fp f JOIN bench USING (fingerprint)
        WHERE f.doc_id % 23 <> 0
        GROUP BY f.doc_id HAVING count(*) >= 2)
    SELECT 'decontaminate' AS check, 'text' AS target,
           CAST((SELECT count(*) FROM documents
                 WHERE doc_id % 23 <> 0) AS BIGINT) AS total,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS violations,
           (SELECT count(*) FROM hits) = 0 AS passed
    """,
)
def stream_exec_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING eval-contamination gate (streaming/quality.py::
    start_decontamination_stream — the third ingest gate after
    expectations and uniqueness): the eval slice (doc_id%23) is
    winnow-fingerprinted ONCE (`eval_winnow_fingerprints`, the
    eval-set-bounded static side); the training docs then stream in
    over >= 2 REAL micro-batches, each batch fingerprinted and
    broadcast-semi-joined against the static set, partials folded
    through the shared expectation store. The oracle recomputes the
    whole-corpus batch `decontaminate_winnow` verdict (same k=8,
    window=4, min_shared=2 as pipeline_decontaminate_winnow) in one
    pass; parity certifies fold-of-batches == whole-corpus recompute
    exactly — the winnowing per-document guarantee means per-batch
    evaluation loses nothing."""
    from blackroad_feature_store_spark.streaming.quality import (
        eval_winnow_fingerprints,
        merge_expectations,
        start_decontamination_stream,
    )

    docs = load(spark, sf, "documents")
    fps = eval_winnow_fingerprints(
        docs.where(F.col("doc_id") % 23 == 0), k=8, window=4
    )
    base = _scratch("stream_decon_")
    train = docs.where(F.col("doc_id") % 23 != 0).select("doc_id", "text")
    stream = _split_source(train, base, "doc_id", files=4, per_trigger=2)
    _await(start_decontamination_stream(
        stream, fps, f"{base}/store", f"{base}/ckpt", id_col="doc_id",
        k=8, window=4, min_shared=2, available_now=True,
    ))
    return merge_expectations(spark, f"{base}/store")


@q(
    "stream_exec_exact_substr_gate",
    r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'),
                           x -> x <> '') AS t
        FROM documents),
    sized AS (SELECT doc_id, t, len(t) AS nt FROM toks),
    grams AS (
        SELECT doc_id, array_to_string(list_slice(t, i, i + 19), ' ')
                   AS gram
        FROM sized, UNNEST(range(1, nt - 18)) AS u(i)
        WHERE nt >= 20),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 23 = 0),
    hits AS (
        SELECT g.doc_id
        FROM (SELECT DISTINCT doc_id, gram FROM grams
              WHERE doc_id % 23 <> 0) g
        JOIN bench USING (gram)
        GROUP BY g.doc_id HAVING count(*) >= 1)
    SELECT 'exact_substr' AS check, 'text' AS target,
           CAST((SELECT count(*) FROM documents
                 WHERE doc_id % 23 <> 0) AS BIGINT) AS total,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS violations,
           (SELECT count(*) FROM hits) = 0 AS passed
    """,
)
def stream_exec_exact_substr_gate(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING ExactSubstr decontamination gate (streaming/
    quality.py::start_exact_substr_stream) — the exact verbatim-span
    tier next to the winnow fingerprint gate: the eval slice
    (doc_id%23) contributes its distinct 20-token windows ONCE
    (`eval_exact_substr_grams`, string windows — a hash collision can
    never flag a clean document); the training docs stream in over
    >= 2 REAL micro-batches, each batch's stride-1 windows broadcast
    semi-joined against the static set by STRING equality, partials
    folded through the shared expectation store. The oracle
    recomputes the whole-corpus verdict in one pass; parity certifies
    fold-of-batches == whole-corpus recompute exactly (per-document
    decisions against a static set are additive). This is the GPT-3
    "n-gram overlap with eval" decontamination run at ingest instead
    of as a batch rescan."""
    from blackroad_feature_store_spark.streaming.quality import (
        eval_exact_substr_grams,
        merge_expectations,
        start_exact_substr_stream,
    )

    docs = load(spark, sf, "documents")
    grams = eval_exact_substr_grams(
        docs.where(F.col("doc_id") % 23 == 0), L=20
    )
    base = _scratch("stream_exsub_")
    train = docs.where(F.col("doc_id") % 23 != 0).select("doc_id", "text")
    stream = _split_source(train, base, "doc_id", files=4, per_trigger=2)
    _await(start_exact_substr_stream(
        stream, grams, f"{base}/store", f"{base}/ckpt", id_col="doc_id",
        L=20, min_shared=1, available_now=True,
    ))
    return merge_expectations(spark, f"{base}/store")


@q(
    "stream_exec_enrich_pit",
    """
    WITH rec AS (SELECT user_id, ts, value, event_id FROM events
                 WHERE event_id % 3 = 0),
    sp AS (SELECT event_id AS spine_id, user_id, ts AS spine_ts
           FROM events WHERE event_id % 7 = 1),
    j AS (SELECT s.spine_id, s.user_id, s.spine_ts,
                 r.value AS feat_value, r.ts AS feat_ts,
                 row_number() OVER (
                     PARTITION BY s.spine_id
                     ORDER BY r.ts DESC, r.event_id DESC) AS rn
          FROM sp s LEFT JOIN rec r
            ON r.user_id = s.user_id AND r.ts <= s.spine_ts
           AND r.ts >= s.spine_ts - INTERVAL 2 DAY)
    SELECT spine_id, user_id,
           strftime(spine_ts, '%Y-%m-%d %H:%M:%S') AS spine_ts,
           round(feat_value, 6) AS feat_value,
           strftime(feat_ts, '%Y-%m-%d %H:%M:%S') AS feat_ts
    FROM j WHERE rn = 1
    """,
)
def stream_exec_enrich_pit(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING point-in-time-correct enrichment — training-data
    generation as a stream (streaming/joins.py start_pit_enrich_stream):
    a spine of serving events (every 7th event) drains in two real
    micro-batches; each spine row joins the latest feature update
    (every 3rd event) at or before ITS OWN timestamp within a 2-day
    staleness bound — stale or absent features become NULLs, never
    silently-old values, and a "latest" join here would leak future
    features into past examples. foreachBatch lands each enriched
    batch in its own batch_id partition (replay-idempotent). The
    oracle replays the per-row as-of (LEFT range join + per-spine
    top-1 with the event_id tiebreak) over the whole table in one
    batch — parity certifies the streamed union equals the batch
    recompute."""
    from blackroad_feature_store_spark.streaming.joins import (
        start_pit_enrich_stream,
    )

    ev = load(spark, sf, "events")
    records = ev.where(F.col("event_id") % 3 == 0).select(
        "user_id", "ts", "value", "event_id"
    )
    spine = ev.where(F.col("event_id") % 7 == 1).select(
        F.col("event_id").alias("spine_id"), "user_id",
        F.col("ts").alias("spine_ts"),
    )
    base = _scratch("stream_pit_")
    out_path = f"{base}/enriched"
    _await(start_pit_enrich_stream(
        _split_source(spine, base, "spine_id"),
        records,
        out_path,
        checkpoint=f"{base}/ckpt",
        on="user_id",
        spine_ts_col="spine_ts",
        rec_ts_col="ts",
        tiebreakers=("event_id",),
        tolerance="2 days",
        available_now=True,
    ))
    return spark.read.parquet(out_path).select(
        "spine_id",
        "user_id",
        F.date_format("spine_ts", "yyyy-MM-dd HH:mm:ss").alias("spine_ts"),
        F.round("value", 6).alias("feat_value"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("feat_ts"),
    )


@q(
    "stream_exec_incremental_stats",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null,
           round(sum(value), 6) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value,
           round(avg(value), 6) AS mean_value
    FROM events GROUP BY event_type
    """,
)
def stream_exec_incremental_stats(spark: SparkSession, sf: str) -> DataFrame:
    """A GENUINE streaming execution of the incremental feature-stats
    maintainer (streaming/stats.py): events split into two parquet
    files → file-source stream with ``maxFilesPerTrigger=1`` (two real
    micro-batches) → foreachBatch writes each batch's MERGEABLE
    partial aggregate (n, nulls, sum, min, max per event_type) into
    its own batch_id partition → ``merge_stats`` folds the partials.
    The oracle recomputes the statistics over the whole table in one
    batch aggregation, so parity certifies the monoid fold: per-batch
    O(batch) maintenance produces exactly the O(history) recompute's
    answer (float sums rounded at 6dp — IEEE reassociation)."""
    from blackroad_feature_store_spark.streaming.stats import (
        merge_stats,
        start_stats_stream,
    )

    base = _scratch("stream_stats_")
    ev = load(spark, sf, "events").select("event_id", "event_type", "value")
    _await(start_stats_stream(
        _split_source(ev, base, "event_id"),
        stats_path=f"{base}/stats",
        checkpoint=f"{base}/ckpt",
        group_cols=["event_type"],
        value_col="value",
        available_now=True,
    ))
    return merge_stats(spark, f"{base}/stats").select(
        "event_type",
        "n",
        "n_null",
        F.round("sum_value", 6).alias("sum_value"),
        "min_value",
        "max_value",
        F.round("mean_value", 6).alias("mean_value"),
    )


@q(
    "stream_exec_sessionize",
    """
    WITH s AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                             PARTITION BY user_id ORDER BY ts, event_id))
                         > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events),
    sess AS (
        SELECT user_id, ts, value,
               sum(new_sess) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM s),
    agg AS (
        SELECT user_id, sid,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
               count(*) AS n_events,
               round(sum(value), 6) AS sum_value
        FROM sess GROUP BY user_id, sid)
    SELECT user_id, session_start, session_end, n_events, sum_value
    FROM agg
    QUALIFY sid < max(sid) OVER (PARTITION BY user_id)
    """,
)
def stream_exec_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """A GENUINE stateful-streaming execution certified by the oracle:
    ``readStream`` over events → ``applyInPandasWithState``
    inactivity-gap sessionization (streaming/stateful.py:102, 30-min
    gap) → availableNow drain into a memory sink. The drain emits only
    sessions CLOSED mid-stream (a later event for the same user opened
    the next session); each user's trailing session stays open in
    state awaiting the processing-time timeout, which by design never
    fires during the drain. So the certified contract is: emitted rows
    == every session except each user's last — exactly what the oracle
    computes with its lag-gap session assignment + QUALIFY sid <
    max(sid). Ties in ts cannot straddle a session split (gap 0 < 30
    min), so tie order is aggregate-invariant and the stream's
    sort-by-ts fold matches the oracle's (ts, event_id) order."""
    from blackroad_feature_store_spark.streaming.stateful import (
        drain_and_stop,
        sessionize_stream,
    )

    sessions = sessionize_stream(_table_stream(spark, sf, "events"),
                                 gap="30 minutes", ts_col="ts",
                                 key_col="user_id", value_col="value")
    # ProcessingTimeTimeout keeps no-data batches coming forever, so
    # the run never ends on its own; bounded drain, see
    # drain_and_stop. expected_rows (one cheap count job over the
    # staged batch, run while the drain starts) short-circuits the ~1s
    # wait for the trailing no-data batch (VERDICT r13 ask #5).
    drained = _drain_memory(sessions, wait=lambda q_: drain_and_stop(
        q_, expected_rows=load(spark, sf, "events").count()
    ))
    return drained.where("closed").select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


@q(
    "stream_exec_sessionize_et",
    """
    WITH s AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                             PARTITION BY user_id ORDER BY ts, event_id))
                         > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events),
    sess AS (
        SELECT user_id, ts, value,
               sum(new_sess) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM s),
    agg AS (
        SELECT user_id, sid, min(ts) AS t0, max(ts) AS t1,
               count(*) AS n_events, round(sum(value), 6) AS sum_value
        FROM sess GROUP BY user_id, sid),
    wm AS (SELECT max(ts) AS mx FROM events)
    SELECT user_id,
           strftime(t0, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(t1, '%Y-%m-%d %H:%M:%S') AS session_end,
           n_events, sum_value
    FROM agg CROSS JOIN wm
    QUALIFY sid < max(sid) OVER (PARTITION BY user_id)
         OR epoch_us(t1) + 1800000000 <= epoch_us(mx) - 60000000
    """,
)
def stream_exec_sessionize_et(spark: SparkSession, sf: str) -> DataFrame:
    """The EVENT-TIME variant of the executed sessionization
    (`streaming/stateful.py::sessionize_stream(event_time=True)`):
    trailing sessions close when the WATERMARK passes last_seen + gap,
    so unlike the processing-time drain the emitted set includes every
    user's final session whose quiet period the final watermark
    (max event time − 1 min delay) has already covered. The oracle
    pins exactly that richer contract: lag-gap sessions where the
    session is non-last OR end + 30 min ≤ watermark. Event-time
    timers schedule no wall-clock batches, so the availableNow run
    terminates on its own — no bounded drain needed."""
    from blackroad_feature_store_spark.streaming.stateful import (
        sessionize_stream,
    )

    sessions = sessionize_stream(
        _table_stream(spark, sf, "events"),
        gap="30 minutes",
        ts_col="ts",
        key_col="user_id",
        value_col="value",
        event_time=True,
        watermark_delay="1 minute",
    )
    drained = _drain_memory(sessions, wait=lambda q_: _await(q_, 180))
    return drained.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


@q(
    "stream_exec_enrich",
    """
    WITH recs AS (
        SELECT o_custkey, o_totalprice, o_orderstatus,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY epoch_us(o_orderdate) + o_orderkey DESC
               ) AS rn
        FROM orders)
    SELECT c.c_custkey, c.c_name,
           r.o_totalprice  AS feature_totalprice,
           r.o_orderstatus AS feature_status
    FROM customer c
    LEFT JOIN recs r ON r.o_custkey = c.c_custkey AND r.rn = 1
    """,
)
def stream_exec_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """A GENUINE stream-static enrichment execution certified by the
    oracle: orders are written through the real FeatureStore (same
    deterministic record encoding as store_roundtrip_asof), then a
    ``readStream`` over customers is enriched per micro-batch against
    the store's entity-latest snapshot via
    ``streaming/joins.py::enrich_with_features`` — the static side is
    snapshot-pinned at plan time and BROADCAST, so each micro-batch
    probes an executor-local hash relation with no per-batch shuffle
    (the online-inference read path). Left join: customers with no
    orders keep NULL features. Oracle recomputes entity-latest
    directly from orders (ts = epoch_us(o_orderdate) + o_orderkey is
    unique per entity, so top-1 is deterministic)."""
    from blackroad_feature_store_spark.store import FeatureStore
    from blackroad_feature_store_spark.streaming.joins import (
        enrich_with_features,
    )

    fs = FeatureStore(spark, _scratch("fs_enrich_"))
    fs.register_features([
        {"name": "totalprice", "entity_type": "customer", "dtype": "float"},
        {"name": "status", "entity_type": "customer", "dtype": "str"},
    ])
    g = fs.create_group("orders_enrich", ["totalprice", "status"],
                        "c_custkey")

    # spread: the uuid + JSON-encode record projection is per-row
    # expensive and otherwise runs as ONE task on the single-row-group
    # orders scan (r16); keyed on the entity key so the store write
    # lands entity-clustered files. No-op on a wide scan.
    orders = spread(load(spark, sf, "orders"), "o_custkey")
    enc = lambda c: F.regexp_extract(  # noqa: E731 — JSON-cell encoder
        F.to_json(F.struct(F.col(c).alias("v")), {"ignoreNullFields": "false"}),
        r'^\{"v":(.*)\}$',
        1,
    )
    recs = orders.select(
        F.expr("uuid()").alias("id"),
        F.lit(g.id).alias("group_id"),
        F.col("o_custkey").cast("string").alias("entity_id"),
        F.map_from_arrays(
            F.array(F.lit("totalprice"), F.lit("status")),
            F.array(enc("o_totalprice"), enc("o_orderstatus")),
        ).alias("feature_values"),
        F.timestamp_micros(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            + F.col("o_orderkey")
        ).alias("timestamp"),
        F.lit(1).alias("version"),
    )
    fs.write_records_df(recs)

    stream = _table_stream(spark, sf, "customer").select(
        "c_custkey",
        "c_name",
        F.col("c_custkey").cast("string").alias("__ent"),
    )
    enriched = enrich_with_features(
        stream, fs, g.id, "__ent", ["totalprice", "status"]
    )
    # stateless (a broadcast stream-static join): the session's
    # shuffle partitions stay as they are
    return _drain_memory(enriched, state_parts=False).select(
        "c_custkey",
        "c_name",
        F.col("feature_totalprice").cast("double").alias(
            "feature_totalprice"
        ),
        F.regexp_replace("feature_status", '^"|"$', "").alias(
            "feature_status"
        ),
    )


@q(
    "stream_exec_interval_join",
    """
    SELECT l.event_id AS click_id,
           r.event_id AS purchase_id,
           l.user_id  AS user_id,
           CAST(epoch_us(r.ts) - epoch_us(l.ts) AS BIGINT) AS delay_us
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'click' AND r.event_type = 'purchase'
     AND r.ts >= l.ts
     AND r.ts <= l.ts + INTERVAL 30 MINUTE
    """,
)
def stream_exec_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """A GENUINE stream-stream join execution certified by the oracle:
    two ``readStream``s over events (clicks and purchases) correlated
    by `streaming/joins.py::interval_join` — watermarks on both sides
    plus the event-time range bound make the join state self-cleaning
    (a click ages out once the purchase-side watermark passes
    click_ts + 30 min). The conversion-attribution shape. Inner join:
    every qualifying pair is emitted regardless of watermark (the
    watermark bounds state and lateness, not matching, and the
    availableNow drain delivers both sides in full), so the result
    equals the batch interval join exactly — streaming/batch
    unification for the stateful-join path, pinned against DuckDB."""
    from blackroad_feature_store_spark.streaming.joins import interval_join

    def _events(kind: str) -> DataFrame:
        # one source per side: a stream-stream join of two reads
        return _table_stream(spark, sf, "events").where(
            F.col("event_type") == kind
        )

    clicks = _events("click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = _events("purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    joined = interval_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        max_delay="30 minutes",
        late_threshold="10 minutes",
    ).select(  # project BEFORE the sink: dedup the join key column
        "click_id",
        "purchase_id",
        clicks["user_id"].alias("user_id"),
        (
            F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
        ).alias("delay_us"),
    )
    return _drain_memory(joined)


@q(
    "core_asof_sql_join",
    """
    WITH p AS (SELECT user_id, event_id, ts, value FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, max(value) AS value FROM events
               WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT p.user_id, p.event_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           round(c.value, 6) AS click_value
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def core_asof_sql_join(spark: SparkSession, sf: str) -> DataFrame:
    """The ``ASOF JOIN`` SQL spelling (SURVEY §4.2's optional parser
    extension, `functions/asof_sql.py`): every purchase joined to the
    same user's latest click at or before it, written as
    ``ASOF LEFT JOIN`` and lowered to the join-then-window-top-1 plan.
    The oracle is DuckDB's NATIVE ASOF JOIN — our front-end is pinned
    against an independent engine's implementation of the same syntax.
    The right side is pre-aggregated to unique (user_id, ts) so the
    as-of match is tie-free in both engines."""
    from blackroad_feature_store_spark.functions.asof_sql import asof_sql

    ev = load(spark, sf, "events")
    ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    ).createOrReplaceTempView("asof_purchases")
    ev.where(F.col("event_type") == "click").groupBy("user_id", "ts").agg(
        F.max("value").alias("value")
    ).createOrReplaceTempView("asof_clicks")
    return asof_sql(
        spark,
        """
        SELECT p.user_id AS user_id, p.event_id AS event_id,
               date_format(p.ts, 'yyyy-MM-dd HH:mm:ss') AS purchase_ts,
               date_format(c.ts, 'yyyy-MM-dd HH:mm:ss') AS click_ts,
               round(c.value, 6) AS click_value
        FROM asof_purchases p ASOF LEFT JOIN asof_clicks c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
    )


@q(
    "pipeline_clean_corpus",
    f"""
    WITH {_SQL_PROFILE_BASE},
    u AS (SELECT doc_id, fingerprint, source, quality FROM scored
          UNION ALL
          SELECT doc_id + {_SQL_DOC_SHIFT}, fingerprint, source, quality
          FROM scored),
    filtered AS (SELECT * FROM u WHERE quality >= 0.5),
    keep AS (SELECT min(doc_id) AS keep_id
             FROM filtered GROUP BY fingerprint),
    survivors AS (SELECT f.* FROM filtered f
                  JOIN keep k ON f.doc_id = k.keep_id)
    SELECT source,
           count(*) AS n_docs,
           round(avg(quality), 6) AS avg_quality
    FROM survivors GROUP BY source
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Composed training-data pipeline: quality-filter → exact-dedup
    (keep min-id per fingerprint) → per-source rollup, over a corpus
    with synthetic duplicates. The shape every LLM data pipeline runs:
    filter early (cheap narrow projection), dedup on the survivors,
    aggregate last."""
    docs = load(spark, sf, "documents")
    # localCheckpoint: the profile subtree feeds FOUR plan branches
    # (both union arms, each consumed again by the keep-aggregation
    # and the semi-join) — without materialization Catalyst evaluates
    # the regex-heavy profile once per branch (r16 measured: 4x the
    # 64-task profile stage). The materialized frame is one compact
    # row per document — exactly what a production pipeline persists
    # between the profile and dedup stages.
    prof = text_profile(spread(docs, "doc_id")).select(
        "doc_id", "fingerprint", "source", "quality"
    ).localCheckpoint()
    u = prof.unionByName(
        prof.withColumn("doc_id", F.col("doc_id") + _doc_id_shift(docs))
    )
    filtered = u.where(F.col("quality") >= 0.5)
    keep = filtered.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id")
    )
    survivors = filtered.join(
        keep.select("doc_id"), "doc_id", "left_semi"
    )
    return survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )


@q(
    "text_top_tokens",
    r"""
    WITH toks AS (
        SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents),
    counts AS (SELECT lang, tok, count(*) AS n
               FROM toks GROUP BY lang, tok)
    SELECT lang, tok, n, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY lang ORDER BY n DESC, tok) AS rank
          FROM counts)
    WHERE rank <= 5
    """,
)
def text_top_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Top-5 tokens per language: explode → two-level agg → ranked
    window with deterministic tiebreak. The vocabulary-stats shape."""
    from blackroad_feature_store_spark.operators.text import tokens

    docs = load(spark, sf, "documents")
    counts = (
        docs.select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tok"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
    )



def _sql_cos(a: str, b: str) -> str:
    """Cosine between two SQL vector expressions, rounded to 6 — the
    same sequential-fold arithmetic the Spark operators use."""
    return f"""round(
      list_sum(list_transform(list_zip({a}, {b}), p -> p[1]::DOUBLE * p[2]::DOUBLE))
      / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE)))), 6)"""


@q(
    "sim_cosine_topk_ivf",
    f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS cvec
                   FROM embeddings WHERE vec_id < 16),
    corp AS (SELECT vec_id, embedding FROM embeddings),
    assign_scored AS (
        SELECT c.vec_id, k.cid,
               {_sql_cos('c.embedding', 'k.cvec')} AS sim
        FROM corp c CROSS JOIN cents k),
    assigned AS (
        SELECT vec_id, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
            FROM assign_scored) WHERE rn = 1),
    q AS (SELECT vec_id AS qid, embedding AS qvec
          FROM embeddings WHERE vec_id >= 100 AND vec_id < 105),
    probe_scored AS (
        SELECT q.qid, q.qvec, k.cid,
               {_sql_cos('q.qvec', 'k.cvec')} AS sim
        FROM q CROSS JOIN cents k),
    probes AS (
        SELECT qid, qvec, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, cid) AS rn
            FROM probe_scored) WHERE rn <= 2),
    scored AS (
        SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
               {_sql_cos('p.qvec', 'e.embedding')} AS score
        FROM probes p
        JOIN assigned a ON a.cid = p.cid
        JOIN corp e ON e.vec_id = a.vec_id
        WHERE a.vec_id != p.qid)
    SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def sim_cosine_topk_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN top-k: inverted lists under a 16-centroid coarse
    quantizer, nprobe=2. Centroids are a fixed deterministic sample
    (vec_id < 16) so the oracle reproduces the index exactly; swap in
    k-means centroids in production — the plan shape is identical.
    Assignment is a broadcast map-side pass; the probe join scans
    ~nprobe/K of the corpus per query."""
    from blackroad_feature_store_spark.operators.similarity import (
        cosine_topk_ivf,
    )

    corpus = load(spark, sf, "embeddings").select("vec_id", "embedding")
    centroids = (
        load(spark, sf, "embeddings")
        .where(F.col("vec_id") < 16)
        .select(F.col("vec_id").alias("centroid_id"), "embedding")
    )
    queries = (
        load(spark, sf, "embeddings")
        .where((F.col("vec_id") >= 100) & (F.col("vec_id") < 105))
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return cosine_topk_ivf(corpus, queries, centroids, k=5, nprobe=2)


@q(
    "sim_cosine_topk_ivfpq",
    f"""
    WITH corp AS (SELECT vec_id, embedding FROM embeddings),
    cents AS (SELECT vec_id AS cid, embedding AS cvec
              FROM embeddings WHERE vec_id < 16),
    u AS (SELECT vec_id,
            CASE WHEN nrm = 0
                 THEN list_transform(embedding, x -> x::DOUBLE)
                 ELSE list_transform(embedding, x -> x::DOUBLE / nrm)
            END AS uv
          FROM (SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(
                      embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
                FROM corp)),
    subsp AS (SELECT unnest(range(0, 4)) AS s),
    cb AS (SELECT subsp.s AS subspace, CAST(u.vec_id AS INT) AS code,
                  list_slice(u.uv, subsp.s*16 + 1, subsp.s*16 + 16)
                      AS codeword
           FROM u, subsp WHERE u.vec_id < 16),
    subv AS (SELECT u.vec_id, subsp.s AS subspace,
                    list_slice(u.uv, subsp.s*16 + 1, subsp.s*16 + 16)
                        AS sub
             FROM u, subsp),
    enc_scored AS (
        SELECT v.vec_id, v.subspace, cb.code,
               list_sum(list_transform(list_zip(v.sub, cb.codeword),
                   p -> (p[1]::DOUBLE - p[2]::DOUBLE)
                      * (p[1]::DOUBLE - p[2]::DOUBLE))) AS d2
        FROM subv v JOIN cb ON cb.subspace = v.subspace),
    enc AS (SELECT vec_id, subspace, code FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY vec_id, subspace
                  ORDER BY d2, code) AS rn
              FROM enc_scored) WHERE rn = 1),
    assign_scored AS (
        SELECT c.vec_id, k.cid,
               {_sql_cos('c.embedding', 'k.cvec')} AS sim
        FROM corp c CROSS JOIN cents k),
    assigned AS (SELECT vec_id, cid FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
        FROM assign_scored) WHERE rn = 1),
    q AS (SELECT vec_id AS qid, embedding AS qvec
          FROM embeddings WHERE vec_id >= 100 AND vec_id < 105),
    probe_scored AS (
        SELECT q.qid, k.cid, {_sql_cos('q.qvec', 'k.cvec')} AS sim
        FROM q CROSS JOIN cents k),
    probes AS (SELECT qid, cid FROM (
        SELECT *, row_number() OVER (
            PARTITION BY qid ORDER BY sim DESC, cid) AS rn
        FROM probe_scored) WHERE rn <= 2),
    qu AS (SELECT q.qid, u.uv AS quv FROM q JOIN u ON u.vec_id = q.qid),
    qtab AS (
        SELECT qu.qid, cb.subspace, cb.code,
               CAST(round(list_sum(list_transform(
                   list_zip(list_slice(qu.quv, cb.subspace*16 + 1,
                                       cb.subspace*16 + 16),
                            cb.codeword),
                   p -> p[1]::DOUBLE * p[2]::DOUBLE)), 9)
                    AS DECIMAL(18,9)) AS part
        FROM qu CROSS JOIN cb),
    approx AS (
        SELECT p.qid, e.vec_id, sum(t.part) AS apx
        FROM probes p
        JOIN assigned a ON a.cid = p.cid
        JOIN enc e ON e.vec_id = a.vec_id
        JOIN qtab t ON t.qid = p.qid
                   AND t.subspace = e.subspace AND t.code = e.code
        WHERE e.vec_id != p.qid
        GROUP BY 1, 2),
    cands AS (SELECT qid, vec_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY qid ORDER BY apx DESC, vec_id) AS rn
        FROM approx) WHERE rn <= 20),
    exact AS (
        SELECT c.qid AS query_id, c.vec_id AS neighbor_id,
               round(list_sum(list_transform(list_zip(qq.quv, cu.uv),
                   p -> p[1]::DOUBLE * p[2]::DOUBLE)), 6) AS score
        FROM cands c
        JOIN qu qq ON qq.qid = c.qid
        JOIN u cu ON cu.vec_id = c.vec_id)
    SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY score DESC, neighbor_id) AS rank
          FROM exact)
    WHERE rank <= 5
    """,
)
def sim_cosine_topk_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    """FAISS-style IVFADC (`operators/similarity.py::
    cosine_topk_ivfpq`): IVF inverted lists over PQ-compressed
    vectors, per-query ADC lookup tables (DECIMAL-quantized partials —
    order-independent, oracle-replayable), exact re-rank of the
    rerank·k survivors. m=4 × 16-dim subspaces over d=64; centroids
    AND codebooks are deterministic samples (vec_id < 16 — unit
    subvectors as codewords) so the oracle rebuilds the ENTIRE index
    bit-for-bit: encode argmin, coarse assignment, probes, ADC sums,
    and the exact-rerank cut all certified, not just the final
    cosines. Swap in `pq_train`/`train_centroids` in production —
    plan shape identical (`test_ivfpq_full_dials_equal_brute_...`
    pins the trained-codebook behavior)."""
    from blackroad_feature_store_spark.operators.similarity import (
        _pq_subvectors,
        _unit,
        cosine_topk_ivfpq,
    )

    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    centroids = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("centroid_id"), "embedding"
    )
    cb_src = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("code"),
        _unit("embedding").alias("__u"),
    )
    codebooks = _pq_subvectors(cb_src, "code", F.col("__u"), 4, 16).select(
        "subspace", "code", F.col("__sub").alias("codeword")
    )
    queries = emb.where(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 105)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    return cosine_topk_ivfpq(
        emb, queries, centroids, codebooks, k=5, rerank=4, nprobe=2
    )


@q(
    "core_salted_hot_keys",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def core_salted_hot_keys(spark: SparkSession, sf: str) -> DataFrame:
    """Skew pattern: 100k events funnel into 5 hot keys — the salted
    two-stage aggregation spreads each hot key over 32 reducers before
    the per-key combine. Decimal sum keeps the result identical to the
    oracle's direct aggregation regardless of combine order."""
    from blackroad_feature_store_spark.operators.skew import salted_agg

    ev = load(spark, sf, "events").withColumn(
        "value", F.col("value").cast("decimal(18,6)")
    )
    out = salted_agg(
        ev, ["event_type"], salt_on="event_id", num_salts=32,
        sum_col="value",
    )
    return out.select(
        "event_type", "n", F.col("sum_value").cast("double").alias("sum_value")
    )


@q(
    "tpch_q5_local_supplier",
    """
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def tpch_q5_local_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume) adapted: a 6-table join with
    dimension filters. nation/region/supplier broadcast; Catalyst
    orders the joins so only lineitem⋈orders shuffles. Decimal-input
    arithmetic keeps the revenue sum engine-exact."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf, "lineitem")
    supp = F.broadcast(load(spark, sf, "supplier"))
    nation = F.broadcast(load(spark, sf, "nation"))
    region = F.broadcast(
        load(spark, sf, "region").where(F.col("r_name") == "ASIA")
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@q(
    "core_running_total",
    """
    SELECT o_orderkey, o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS running_spend,
           CAST(row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS INT) AS order_seq
    FROM orders
    """,
)
def core_running_total(spark: SparkSession, sf: str) -> DataFrame:
    """Analytic window frame (beyond the reference's surface): per-
    customer cumulative spend + order sequence number — one shuffle on
    the partition key, running frame computed in-partition. Decimal
    accumulation keeps every prefix sum engine-exact."""
    orders = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = (
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        running.alias("running_spend"),
        F.row_number().over(w).cast("int").alias("order_seq"),
    )


@q(
    "dedup_clusters",
    _SQL_MINHASH_PAIRS.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
    SELECT a AS doc_id, min(b) AS cluster_id
    FROM reach GROUP BY a
    """,
)
def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Iterative connected components over the MinHash candidate graph
    — pairs become dedup clusters (keep min-id per cluster). The Spark
    side is min-label propagation (one shuffle per round, lineage cut
    per iteration); the oracle computes the same components by
    recursive transitive closure, feasible at oracle scale."""
    from blackroad_feature_store_spark.operators.dedup import (
        duplicate_clusters,
    )

    docs = load(spark, sf, "documents")
    pairs = minhash_candidate_pairs(docs, num_bands=8, shingle_size=3)
    return duplicate_clusters(pairs)


@q(
    "pipeline_cluster_split",
    _SQL_MINHASH_PAIRS.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (SELECT a AS doc_id, min(b) AS cluster_id
             FROM reach GROUP BY a),
    assigned AS (
        SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c USING (doc_id))
    SELECT doc_id, cluster_id,
           CASE WHEN CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)),
                                         1, 4) AS INT) % 100 < 90
                THEN 'train' ELSE 'holdout' END AS split
    FROM assigned
    """,
)
def pipeline_cluster_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-FREE splitting
    (`operators/corpus.py::cluster_aware_split`) — the remedy for what
    pipeline_split_leakage measures: the md5 bucket is computed on the
    near-dup CLUSTER id (singletons = own cluster), so a near-dup
    family can never straddle the boundary. The query self-certifies:
    it raises if ANY LSH candidate pair crosses splits before
    returning the per-doc assignment the oracle replays (recursive-CTE
    components + the same md5 rule)."""
    from blackroad_feature_store_spark.operators.corpus import (
        cluster_aware_split,
    )

    docs = load(spark, sf, "documents")
    pairs = minhash_candidate_pairs(docs, num_bands=8, shingle_size=3)
    pairs.persist()
    out = cluster_aware_split(docs, pairs=pairs)
    sa = out.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = out.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    crossing = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.col("split_a") != F.col("split_b"))
        .count()
    )
    pairs.unpersist()
    if crossing:
        raise AssertionError(
            f"cluster-aware split leaked {crossing} cross-split pair(s)"
        )
    return out.select("doc_id", "cluster_id", "split")


# Record-linkage fixture: entity "names" are the first 40 chars of each
# document; each gets one deterministic dirty variant (the char at
# position doc_id % len + 1 dropped, id shifted past max(doc_id) — the
# catalog's collision-proof shifted-copy convention). Both engines
# build the identical variant.
_SQL_LINK_MATCHES = f"""
    WITH recs AS (
        SELECT doc_id AS rec_id, substr(text, 1, 40) AS name
        FROM documents
        UNION ALL
        SELECT doc_id + {_SQL_DOC_SHIFT},
               substr(substr(text, 1, 40), 1,
                      CAST(doc_id % greatest(
                          length(substr(text, 1, 40)), 1) AS INT))
               || substr(substr(text, 1, 40),
                         CAST(doc_id % greatest(
                             length(substr(text, 1, 40)), 1) AS INT) + 2)
        FROM documents),
    keys AS (
        SELECT rec_id, name, 'h:' || substr(name, 1, 12) AS bkey
        FROM recs
        UNION ALL
        SELECT rec_id, name,
               't:' || substr(name, greatest(length(name) - 11, 1), 12)
        FROM recs),
    cand AS (
        SELECT DISTINCT a.rec_id AS id_a, b.rec_id AS id_b,
                        a.name AS name_a, b.name AS name_b
        FROM keys a JOIN keys b
          ON a.bkey = b.bkey AND a.rec_id < b.rec_id),
    matches AS (
        SELECT id_a, id_b, sim FROM (
            SELECT id_a, id_b,
                   round(1.0 - levenshtein(name_a, name_b)::DOUBLE
                         / greatest(length(name_a), length(name_b), 1),
                         6) AS sim
            FROM cand)
        WHERE sim >= 0.9)
"""


# The same match pipeline with the token-sorted key family unioned in
# (VERDICT r11 item 7): word-order transpositions share the "s:" key,
# which neither substring key can provide. The oracle unions the same
# third family, so the hash certifies the union blocking end-to-end.
_SQL_LINK_MATCHES_SORTED = _SQL_LINK_MATCHES.replace(
    """               't:' || substr(name, greatest(length(name) - 11, 1), 12)
        FROM recs),""",
    """               't:' || substr(name, greatest(length(name) - 11, 1), 12)
        FROM recs
        UNION ALL
        SELECT rec_id, name,
               's:' || substr(array_to_string(list_sort(
                   list_filter(string_split_regex(name, '\\s+'),
                               x -> x <> '')), ' '), 1, 12)
        FROM recs),""",
)
if _SQL_LINK_MATCHES_SORTED == _SQL_LINK_MATCHES:
    raise AssertionError("sorted-neighborhood SQL rewrite did not apply")


# The same match pipeline under the PRODUCTION-DEFAULT skew cap
# (VERDICT r13 ask #3): blocks truncate to the max_block smallest
# rec_ids before pairing — a deterministic rank-cap the oracle replays
# with the identical window, so the hash certifies the cap semantics,
# not just the uncapped fixture shape. max_block=4 sits below the
# fixture's hottest block at every SF (7-8 records at sf0.001/0.01),
# so the cap provably bites: shifted-id dirty variants rank past the
# cap in hot blocks and the match set visibly shrinks.
_SQL_LINK_MATCHES_CAPPED = _SQL_LINK_MATCHES.replace(
    "    cand AS (",
    """    capped AS (
        SELECT rec_id, name, bkey FROM (
            SELECT rec_id, name, bkey,
                   row_number() OVER (PARTITION BY bkey
                                      ORDER BY rec_id) AS rn
            FROM keys)
        WHERE rn <= 4),
    cand AS (""",
).replace("FROM keys a JOIN keys b", "FROM capped a JOIN capped b")
if "capped a" not in _SQL_LINK_MATCHES_CAPPED:
    raise AssertionError("skew-cap SQL rewrite did not apply")


def _link_records_frame(spark: SparkSession, sf: str) -> DataFrame:
    """Spark twin of the oracle's ``recs`` CTE (original + one-char-
    dropped variant per document, variant ids shifted past
    max(doc_id) — the collision-proof shifted-copy convention)."""
    docs = load(spark, sf, "documents")
    name = F.substring("text", 1, 40)
    base = docs.select(
        F.col("doc_id").alias("rec_id"), name.alias("name")
    )
    m = (
        F.col("doc_id") % F.greatest(F.length(name), F.lit(1))
    ).cast("int")
    variant = F.concat(
        F.substring(name, F.lit(1), m),
        F.substring(name, m + F.lit(2), F.length(name)),
    )
    dirty = docs.select(
        (F.col("doc_id") + _doc_id_shift(docs)).alias("rec_id"),
        variant.alias("name"),
    )
    return base.unionByName(dirty)


@q(
    "link_blocked_pairs",
    _SQL_LINK_MATCHES + "SELECT id_a, id_b, sim FROM matches",
)
def link_blocked_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Record-linkage match pairs (`operators/linkage.py`): two-pass
    head/tail substring blocking bounds candidates (a one-char drop
    cannot invalidate both keys at once for names >= 2*key_len), then
    JVM-side normalised levenshtein similarity, threshold 0.9. The
    candidate set is O(sum block^2) with block sizes capped by the
    12-char key (max block 24 at sf0.1), never O(N^2)."""
    from blackroad_feature_store_spark.operators.linkage import (
        link_records,
    )

    recs = _link_records_frame(spark, sf)
    # max_block=None: the oracle replays UNCAPPED blocking, and this
    # fixture's 12-char keys provably bound blocks (~24 at sf0.1) —
    # the explicit opt-out the capped-by-default API requires.
    return link_records(recs, key_len=12, max_block=None, threshold=0.9)


@q(
    "link_blocked_pairs_sorted",
    _SQL_LINK_MATCHES_SORTED + "SELECT id_a, id_b, sim FROM matches",
)
def link_blocked_pairs_sorted(spark: SparkSession, sf: str) -> DataFrame:
    """Record-linkage match pairs under the THREE-family blocking
    union (`linkage.blocking_keys(sorted_tokens=True)`): head/tail
    substring keys plus the token-sorted key, so word-order
    transpositions ("ACME Corp" / "Corp ACME") — invisible to both
    substring families — still become candidates. Same scoring and
    threshold as `link_blocked_pairs`; the oracle unions the same
    third key family, certifying the union blocking end-to-end."""
    from blackroad_feature_store_spark.operators.linkage import (
        link_records,
    )

    recs = _link_records_frame(spark, sf)
    return link_records(
        recs,
        key_len=12,
        max_block=None,
        sorted_tokens=True,
        threshold=0.9,
    )


@q(
    "link_blocked_pairs_capped",
    _SQL_LINK_MATCHES_CAPPED + "SELECT id_a, id_b, sim FROM matches",
)
def link_blocked_pairs_capped(spark: SparkSession, sf: str) -> DataFrame:
    """Record-linkage match pairs with the PRODUCTION-DEFAULT skew cap
    exercised (`linkage.candidate_pairs(max_block=...)`, VERDICT r13
    ask #3): each block deterministically truncates to its max_block
    smallest rec_ids before pairing, turning the uncapped Σblock²
    candidate curve (the one flagged 37x@100x in `link_blocked_pairs`,
    where the cap is opted out for oracle fidelity) into a hard
    O(max_block²)-per-block ceiling — the shape a 100 TB corpus with a
    degenerate hot block ("The ..." names) actually needs. max_block=4
    sits below this fixture's hottest block at every SF, so the cap
    bites and the oracle — which replays the identical
    rank-by-rec_id-within-block window — certifies the truncation
    semantics end-to-end, not just the happy path."""
    from blackroad_feature_store_spark.operators.linkage import (
        link_records,
    )

    recs = _link_records_frame(spark, sf)
    return link_records(recs, key_len=12, max_block=4, threshold=0.9)


@q(
    "link_entities",
    _SQL_LINK_MATCHES.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
    edges AS (SELECT id_a AS a, id_b AS b FROM matches
              UNION
              SELECT id_b, id_a FROM matches),
    reach(a, b) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (SELECT a AS rec_id, min(b) AS entity_id
             FROM reach GROUP BY a),
    assigned AS (
        SELECT r.rec_id, r.name,
               COALESCE(c.entity_id, r.rec_id) AS entity_id
        FROM recs r LEFT JOIN comp c USING (rec_id)),
    ranked AS (
        SELECT entity_id, rec_id, name,
               row_number() OVER (PARTITION BY entity_id
                                  ORDER BY length(name) DESC, rec_id)
                   AS rn
        FROM assigned)
    SELECT entity_id, count(*) AS n_records,
           max(CASE WHEN rn = 1 THEN rec_id END) AS canonical_rec_id,
           max(CASE WHEN rn = 1 THEN name END) AS canonical_name
    FROM ranked GROUP BY entity_id
    """,
)
def link_entities(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution end-to-end: match pairs -> connected
    components (pointer-jumping min-label, O(log diameter) rounds;
    the oracle replays the same components by recursive transitive
    closure) -> survivorship (canonical record = longest name, ties
    to smallest id — the most complete record wins). Singletons form
    their own entity via the left join."""
    from blackroad_feature_store_spark.operators.linkage import (
        link_records,
        resolve_entities,
    )

    recs = _link_records_frame(spark, sf)
    matches = link_records(
        recs, key_len=12, max_block=None, threshold=0.9
    )  # uncapped to mirror the oracle; fixture blocks are key-bounded
    return resolve_entities(recs, matches)


def _sql_kmeans(iters: int, k: int, scale: int) -> str:
    """Unrolled-iteration oracle for the exactly-certifiable k-means
    (`operators/clustering.py`): vectors quantized to BIGINT once,
    sum-centroids (spherical trick — cosine ignores magnitude, so no
    division anywhere), scores as doubles computed from exact integers
    by the same IEEE expression the Spark side uses. Produces CTEs
    qz/qzn/cents0..cents{iters}/assign1..assign{iters}."""
    parts = [
        f"""
    WITH qz AS (SELECT vec_id,
            list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT))
                AS qv
        FROM embeddings),
    qzn AS (SELECT vec_id, qv,
            CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
        FROM qz),
    cents0 AS (SELECT vec_id AS cid, qv AS cv,
            CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS cn2
        FROM qz WHERE vec_id < {k})"""
    ]
    prev = "cents0"
    for i in range(1, iters + 1):
        parts.append(f""",
    assign{i} AS (SELECT vec_id, cid FROM (
        SELECT q.vec_id, c.cid, row_number() OVER (
            PARTITION BY q.vec_id ORDER BY
                CASE WHEN q.n2 = 0 OR c.cn2 = 0 THEN -1.0
                     ELSE CAST(list_sum(list_transform(
                              list_zip(q.qv, c.cv),
                              p -> p[1] * p[2])) AS DOUBLE)
                          / (sqrt(CAST(q.n2 AS DOUBLE))
                             * sqrt(CAST(c.cn2 AS DOUBLE))) END DESC,
                c.cid) AS rn
        FROM qzn q CROSS JOIN {prev} c) WHERE rn = 1),
    cents{i} AS (SELECT cid, list(s ORDER BY pos) AS cv,
        CAST(list_sum(list_transform(
            list(s ORDER BY pos), x -> x * x)) AS BIGINT) AS cn2
        FROM (SELECT a.cid, pos, CAST(sum(v) AS BIGINT) AS s FROM (
            SELECT a.cid, unnest(q.qv) AS v,
                   generate_subscripts(q.qv, 1) AS pos
            FROM assign{i} a JOIN qz q USING (vec_id)) a
          GROUP BY cid, pos)
        GROUP BY cid)""")
        prev = f"cents{i}"
    return "".join(parts)


@q(
    "ml_kmeans_clusters",
    _sql_kmeans(3, 8, 10_000)
    + """
    SELECT vec_id, cid AS cluster_id FROM assign3
    """,
)
def ml_kmeans_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed k-means (`operators/clustering.py`), k=8, 3 Lloyd
    iterations, certified end-to-end: integer-exact sum-centroids make
    the whole iterative run independent of aggregation order, so the
    oracle replays every iteration hash-for-hash. Assignment is a
    broadcast map-side pass; the update is one map-side-combined
    (cid, pos) aggregation producing k*dim rows per round."""
    from blackroad_feature_store_spark.operators.clustering import (
        kmeans_fit_predict,
    )

    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    return kmeans_fit_predict(emb, k=8, iterations=3)


@q(
    "sim_cosine_topk_ivf_kmeans",
    _sql_kmeans(3, 8, 10_000)
    + f""",
    cents AS (SELECT cid, list_transform(cv, x -> x::DOUBLE) AS cvec
              FROM cents3),
    corp AS (SELECT vec_id, embedding FROM embeddings),
    assign_scored AS (
        SELECT c.vec_id, k.cid,
               {_sql_cos('c.embedding', 'k.cvec')} AS sim
        FROM corp c CROSS JOIN cents k),
    assigned AS (
        SELECT vec_id, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
            FROM assign_scored) WHERE rn = 1),
    q AS (SELECT vec_id AS qid, embedding AS qvec
          FROM embeddings WHERE vec_id >= 100 AND vec_id < 105),
    probe_scored AS (
        SELECT q.qid, q.qvec, k.cid,
               {_sql_cos('q.qvec', 'k.cvec')} AS sim
        FROM q CROSS JOIN cents k),
    probes AS (
        SELECT qid, qvec, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, cid) AS rn
            FROM probe_scored) WHERE rn <= 2),
    scored AS (
        SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
               {_sql_cos('p.qvec', 'e.embedding')} AS score
        FROM probes p
        JOIN assigned a ON a.cid = p.cid
        JOIN corp e ON e.vec_id = a.vec_id
        WHERE a.vec_id != p.qid)
    SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY score DESC, neighbor_id)
              AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def sim_cosine_topk_ivf_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN with TRAINED centroids — delivers the swap
    `sim_cosine_topk_ivf`'s docstring promises: the coarse quantizer is
    the 3-iteration exactly-certifiable k-means, so index training AND
    search are one hash-certified pipeline. Sum-centroids feed the
    index directly (cosine is scale-invariant); same nprobe=2 plan
    shape as the hash-picked variant, better list balance."""
    from blackroad_feature_store_spark.operators.clustering import (
        kmeans_fit_predict,
    )
    from blackroad_feature_store_spark.operators.similarity import (
        cosine_topk_ivf,
    )

    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    _, cents = kmeans_fit_predict(
        emb, k=8, iterations=3, return_centroids=True
    )
    centroids = cents.select(
        F.col("cid").alias("centroid_id"),
        F.transform("cv", lambda x: x.cast("double")).alias("embedding"),
    )
    queries = emb.where(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 105)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    return cosine_topk_ivf(emb, queries, centroids, k=5, nprobe=2)


@q(
    "pipeline_epoch_shuffle",
    """
    SELECT doc_id,
           CAST(row_number() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':2'), doc_id)
               AS BIGINT) AS epoch_pos
    FROM documents
    """,
)
def pipeline_epoch_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Seeded training-order shuffle (`operators/ordering.py`): rank
    by md5(id || ':' || epoch) — reproducible on any cluster at any
    partitioning. The Spark side never funnels the corpus through one
    reducer: range-repartition on the hash key, per-partition counts
    -> driver prefix offsets (tiny collect, bounded by partition
    count), within-partition row_number + broadcast offset join. The
    oracle's single global window computes the same rank."""
    from blackroad_feature_store_spark.operators.ordering import (
        epoch_shuffle,
    )

    docs = load(spark, sf, "documents").select("doc_id")
    return epoch_shuffle(docs, id_col="doc_id", epoch=2)


@q(
    "pipeline_token_budget_select",
    f"""
    WITH {_SQL_PROFILE_BASE}
    , ranked AS (
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality,
               CAST(sum(n_tokens) OVER (
                   ORDER BY quality DESC, doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM scored),
    budget AS (SELECT CAST(sum(n_tokens) AS BIGINT) // 2 AS b
               FROM scored)
    SELECT doc_id, n_tokens, quality, cum_tokens
    FROM ranked, budget WHERE cum_tokens <= b
    """,
)
def pipeline_token_budget_select(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget curation: fill half the corpus's token budget with
    the highest-quality documents — rank by quality (doc_id
    tie-break), take the prefix whose running token total fits. The
    running total uses `operators/ordering.py::global_prefix_sum`
    (range partition -> per-partition sums -> driver prefix offsets),
    so no single-reducer window; token counts are integers, so the
    distributed cumsum is exact at any partitioning."""
    from blackroad_feature_store_spark.operators.ordering import (
        global_prefix_sum,
    )

    # localCheckpoint (r16): the profile feeds an EAGER budget scalar
    # plus global_prefix_sum's range-sampling and data passes — three
    # evaluations of the bpe-count/quality projection without it; the
    # materialized frame is three narrow columns per document.
    prof = text_profile(spread(load(spark, sf, "documents"), "doc_id")).select(
        "doc_id", "n_tokens", "quality"
    ).localCheckpoint()
    total = prof.agg(F.sum("n_tokens").cast("long")).collect()[0][0]
    budget = int(total) // 2
    sel = global_prefix_sum(
        prof,
        [F.col("quality").desc(), F.col("doc_id")],
        "n_tokens",
        out_col="cum_tokens",
    )
    return sel.where(F.col("cum_tokens") <= budget).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "quality",
        "cum_tokens",
    )


@q(
    "dedup_semantic_kmeans",
    _sql_kmeans(3, 8, 10_000)
    + f""",
    cents AS (SELECT cid, list_transform(cv, x -> x::DOUBLE) AS cvec
              FROM cents3),
    assign_scored AS (
        SELECT c.vec_id, c.label, k.cid,
               {_sql_cos('c.embedding', 'k.cvec')} AS sim
        FROM embeddings c CROSS JOIN cents k),
    assigned AS (
        SELECT vec_id, label, cid, sim FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
            FROM assign_scored) WHERE rn = 1),
    dropped AS (
        SELECT DISTINCT a.vec_id
        FROM assigned a
        JOIN assigned b ON a.cid = b.cid
         AND (b.sim < a.sim OR (b.sim = a.sim AND b.vec_id < a.vec_id))
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE {_sql_cos('ea.embedding', 'eb.embedding')} > 0.3)
    SELECT vec_id, label, cid AS centroid_id, sim AS centroid_sim
    FROM assigned
    WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)
def dedup_semantic_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup under TRAINED clusters — the production swap
    `dedup_semantic`'s docstring promised, now delivered and certified
    in one pipeline: the exactly-replayable k-means
    (`operators/clustering.py`) trains the 8 sum-centroid clusters,
    then the same intra-cluster outranking prune runs inside them.
    Trained clusters are what make SemDeDup's O(cluster^2) member
    comparison honest at scale: balanced clusters bound the quadratic
    term; hash-picked centroids cannot promise balance."""
    from blackroad_feature_store_spark.operators.clustering import (
        kmeans_fit_predict,
    )
    from blackroad_feature_store_spark.operators.dedup import semantic_dedup

    emb = load(spark, sf, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    _, cents = kmeans_fit_predict(
        emb, k=8, iterations=3, return_centroids=True
    )
    centroids = cents.select(
        F.col("cid").alias("centroid_id"),
        F.transform("cv", lambda x: x.cast("double")).alias("embedding"),
    )
    out = semantic_dedup(emb, centroids, threshold=0.3)
    return out.select("vec_id", "label", "centroid_id", "centroid_sim")


@q(
    "stream_exec_hll_distinct",
    """
    SELECT source,
           count(DISTINCT text) AS n_distinct,
           1 AS sketch_within_3pct
    FROM documents GROUP BY source ORDER BY source
    """,
)
def stream_exec_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING distinct counting — per-batch HLL sketch partials
    (`streaming/stats.py::process_hll_batch`) through the shared
    batch_id store, folded by sketch UNION (associative and
    idempotent: the one store replay cannot skew even in principle).
    Two REAL micro-batches; the in-query 3% envelope against the exact
    whole-table distinct is the certification, same contract as the
    batch `stats_hll_distinct`. This is how a 100 TB stream maintains
    distinct counts: kilobyte sketches at ingest, union at read,
    never a rescan."""
    from blackroad_feature_store_spark.streaming.stats import (
        merge_hll,
        process_hll_batch,
    )

    docs = load(spark, sf, "documents").select("doc_id", "source", "text")
    base = _scratch("stream_hll_")
    hll_path = f"{base}/hll"
    _drain_foreach(
        _split_source(docs, base, "doc_id"),
        lambda batch_df, batch_id: process_hll_batch(
            batch_df, batch_id, hll_path, ["source"], "text"
        ),
        base,
    )
    folded = merge_hll(spark, hll_path).select(
        "source", F.hll_sketch_estimate("sketch").alias("approx_distinct")
    )
    exact = docs.groupBy("source").agg(
        F.countDistinct("text").alias("n_distinct")
    )
    return (
        exact.join(folded, "source")
        .select(
            "source",
            "n_distinct",
            F.when(
                F.abs(F.col("approx_distinct") - F.col("n_distinct"))
                / F.col("n_distinct")
                <= 0.03,
                1,
            )
            .otherwise(0)
            .alias("sketch_within_3pct"),
        )
        .orderBy("source")
    )


def _stream_centroid_updates(
    vectors: DataFrame, cents: DataFrame, prefix: str
) -> DataFrame:
    """Stream ``vectors`` in two REAL micro-batches, each assigned
    against the deployed centroids ``cents`` with its per-(cluster,
    component) BIGINT partial sums landed in a stats store, and return
    the store's fold (``merge_stats``) — the exact next Lloyd update,
    since integer sums commute."""
    from blackroad_feature_store_spark.operators.clustering import (
        kmeans_assign,
        quantize_vectors,
    )
    from blackroad_feature_store_spark.streaming.stats import (
        merge_stats,
        process_stats_batch,
    )

    base = _scratch(prefix)
    store = f"{base}/upd"

    def _update_partials(batch_df: DataFrame, batch_id: int) -> None:
        # carry=("qv",): the assign→q_vecs re-join re-evaluated the
        # whole batch quantize subtree a second time per batch (r17)
        comps = (
            kmeans_assign(
                quantize_vectors(batch_df), cents, carry=("qv",)
            )
            .select(
                F.col("cid").alias("cluster_id"),
                F.posexplode("qv").alias("pos0", "v"),
            )
            .select(
                "cluster_id",
                (F.col("pos0") + 1).cast("int").alias("pos"),
                "v",
            )
        )
        process_stats_batch(
            comps, batch_id, store, ["cluster_id", "pos"], "v"
        )

    _drain_foreach(
        _split_source(vectors, base, "vec_id"), _update_partials, base
    )
    return merge_stats(vectors.sparkSession, store)


@q(
    "stream_exec_kmeans_update",
    _sql_kmeans(4, 8, 10_000)
    + """,
    cnt AS (SELECT cid, CAST(count(*) AS BIGINT) AS n
            FROM assign4 GROUP BY cid)
    SELECT u.cluster_id, CAST(u.pos AS INT) AS pos,
           CAST(u.s AS BIGINT) AS s, cnt.n
    FROM (SELECT cid AS cluster_id, unnest(cv) AS s,
                 generate_subscripts(cv, 1) AS pos
          FROM cents4) u
    JOIN cnt ON cnt.cid = u.cluster_id
    """,
)
def stream_exec_kmeans_update(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING index maintenance, EXACTLY certified: the coarse
    quantizer's next Lloyd update computed incrementally — each REAL
    micro-batch is assigned against the deployed (trained) centroids
    and its per-(cluster, component) BIGINT partial sums land in the
    shared stats store; the fold IS the exact global update (integer
    sums commute, so batch composition cannot move a single unit).
    The oracle unrolls one more full iteration (cents4 = the update
    from assign4-vs-cents3) and the folded store must match it
    hash-for-hash, component by component — the strongest claim in
    the streaming family: not an envelope, not a sketch, the EXACT
    next index. This is how a 100 TB pipeline keeps its ANN index
    fresh: no retraining scan, just mergeable update partials at
    ingest."""
    from blackroad_feature_store_spark.operators.clustering import (
        kmeans_fit_predict,
    )

    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    _, cents = kmeans_fit_predict(
        emb, k=8, iterations=3, return_centroids=True
    )
    return _stream_centroid_updates(emb, cents, "stream_kmu_").select(
        "cluster_id",
        "pos",
        F.col("sum_value").cast("long").alias("s"),
        F.col("n").cast("long").alias("n"),
    )


_SQL_IVFM_SCORE = """
            CASE WHEN q.n2 = 0 OR c.cn2 = 0 THEN -1.0
                 ELSE CAST(list_sum(list_transform(
                          list_zip(q.qv, c.cv),
                          p -> p[1] * p[2])) AS DOUBLE)
                      / (sqrt(CAST(q.n2 AS DOUBLE))
                         * sqrt(CAST(c.cn2 AS DOUBLE))) END
"""


@q(
    "stream_exec_ivf_maintained",
    _sql_kmeans(4, 8, 10_000)
    + f""",
    delta AS (SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings)
                     AS vec_id, embedding
              FROM embeddings WHERE vec_id % 5 = 2),
    dqz AS (SELECT vec_id, list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))
                AS qv
            FROM delta),
    dqzn AS (SELECT vec_id, qv,
                CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT)
                    AS n2
             FROM dqz),
    dassign AS (SELECT vec_id, cid FROM (
        SELECT q.vec_id, c.cid, row_number() OVER (
            PARTITION BY q.vec_id ORDER BY {_SQL_IVFM_SCORE} DESC,
            c.cid) AS rn
        FROM dqzn q CROSS JOIN cents4 c) WHERE rn = 1),
    dsums AS (SELECT cid, pos, CAST(sum(v) AS BIGINT) AS s FROM (
        SELECT a.cid, unnest(q.qv) AS v,
               generate_subscripts(q.qv, 1) AS pos
        FROM dassign a JOIN dqz q USING (vec_id)) t GROUP BY cid, pos),
    dcv AS (SELECT cid, list(s ORDER BY pos) AS dv FROM dsums
            GROUP BY cid),
    centsM AS (SELECT cid, cv,
            CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT)
                AS cn2
        FROM (SELECT c.cid,
                CASE WHEN d.dv IS NULL THEN c.cv
                     ELSE list_transform(list_zip(c.cv, d.dv),
                                         p -> p[1] + p[2]) END AS cv
              FROM cents4 c LEFT JOIN dcv d USING (cid))),
    uq AS (SELECT * FROM qzn UNION ALL SELECT * FROM dqzn),
    lists AS (SELECT vec_id, cid FROM (
        SELECT q.vec_id, c.cid, row_number() OVER (
            PARTITION BY q.vec_id ORDER BY {_SQL_IVFM_SCORE} DESC,
            c.cid) AS rn
        FROM uq q CROSS JOIN centsM c) WHERE rn = 1),
    centsD AS (SELECT cid, list_transform(cv, x -> x::DOUBLE) AS cvec
               FROM centsM),
    corp AS (SELECT vec_id, embedding FROM embeddings
             UNION ALL SELECT vec_id, embedding FROM delta),
    qs AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
           WHERE vec_id >= 100 AND vec_id < 105),
    probe_scored AS (
        SELECT qs.qid, qs.qvec, k.cid,
               {_sql_cos('qs.qvec', 'k.cvec')} AS sim
        FROM qs CROSS JOIN centsD k),
    probes AS (SELECT qid, qvec, cid FROM (
        SELECT *, row_number() OVER (
            PARTITION BY qid ORDER BY sim DESC, cid) AS rn
        FROM probe_scored) WHERE rn <= 2),
    scored AS (
        SELECT p.qid AS query_id, l.vec_id AS neighbor_id,
               {_sql_cos('p.qvec', 'e.embedding')} AS score
        FROM probes p
        JOIN lists l ON l.cid = p.cid
        JOIN corp e ON e.vec_id = l.vec_id
        WHERE l.vec_id != p.qid)
    SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY score DESC, neighbor_id)
              AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def stream_exec_ivf_maintained(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental IVF list maintenance END-TO-END (VERDICT r11 item
    8): a deployed index (4-iteration exactly-certifiable k-means:
    sum-centroids + inverted lists) ingests a delta corpus through
    REAL micro-batches — each batch assigned against the deployed
    centroids, its per-(cluster, component) BIGINT partials landed in
    the mergeable store — then

    1. the folded partials are APPLIED additively
       (`clustering.fold_centroid_update`: only clusters that
       received vectors change, no rescan of existing members),
    2. inverted lists are rebuilt INCREMENTALLY
       (`kmeans_reassign_incremental`: vectors whose old cluster is
       unchanged score against |changed|+1 centroids, not k — exact
       by the dominance argument in its docstring),
    3. maintained-lists == from-scratch-assignment is pytest-pinned
       (`test_clustering.py`; the per-run certificate was trimmed in
       r14, VERDICT ask #5), and
    4. a top-k IVF search (nprobe=2) answers FROM the maintained
       lists, hash-certified against the oracle's full recompute.

    This is the complete "keep the ANN index fresh at ingest" story a
    100 TB pipeline needs: mergeable update partials, additive
    centroid fold, changed-lists-only rebuild, searchable at every
    step."""
    from blackroad_feature_store_spark.operators.clustering import (
        fold_centroid_update,
        kmeans_assign,
        kmeans_fit_predict,
        kmeans_reassign_incremental,
        quantize_vectors,
    )
    from blackroad_feature_store_spark.operators.similarity import (
        dot,
        norm,
    )

    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    _, cents = kmeans_fit_predict(
        emb, k=8, iterations=4, return_centroids=True
    )
    # Deployed inverted lists are the argmax against the DEPLOYED
    # centroids — the incremental reassign's dominance argument is
    # stated at exactly these centroids. (Passing the training run's
    # last assignment — argmax at the PREVIOUS round's centroids —
    # is wrong: the 100x probe's in-query certificate caught 17k
    # diverging vectors before this was a catalog bug.)
    q_old = quantize_vectors(emb)
    lists0 = kmeans_assign(q_old, cents)
    # delta ids shift past the ACTUAL max corpus id (a fixed +1e6
    # shift collides with real ids at the 100x probe scale — the
    # certificate caught the duplicate-id union as 17k "divergences")
    shift = int(emb.agg(F.max("vec_id")).first()[0]) + 1
    delta = emb.where(F.col("vec_id") % 5 == 2).select(
        (F.col("vec_id") + F.lit(shift)).alias("vec_id"), "embedding"
    )

    ds = _stream_centroid_updates(delta, cents, "stream_ivfm_").select(
        "cluster_id", "pos", F.col("sum_value").cast("long").alias("s")
    )
    cents_new = fold_centroid_update(cents, ds).localCheckpoint()
    changed = [
        r["cluster_id"]
        for r in ds.select("cluster_id").distinct().collect()
    ]  # k-bounded collect
    q_delta = quantize_vectors(delta)
    lists = (
        kmeans_reassign_incremental(
            q_old,
            lists0,
            cents_new,
            changed,
        )
        .unionByName(kmeans_assign(q_delta, cents_new))
        # no localCheckpoint: post-trim the lists have exactly one
        # consumer (the search below)
    )
    # maintained-lists == full-rebuild-at-updated-centroids is
    # pytest-pinned (test_clustering.py::
    # test_incremental_reassign_equals_full_and_fold_is_local and
    # test_reassign_routes_unwitnessed_vectors_through_full_rescore),
    # so the query no longer re-proves it per run with a full
    # kmeans_assign + join (VERDICT r13 ask #5 — this certificate
    # earned its keep catching the two 100x bugs its docstring
    # records, both now pinned); the oracle's full recompute below
    # still certifies the search RESULTS from the maintained lists.

    # top-k search FROM the maintained lists (nprobe=2)
    union_emb = emb.unionByName(delta)
    cents_d = cents_new.select(
        F.col("cid").alias("centroid_id"),
        F.transform("cv", lambda x: x.cast("double")).alias("cvec"),
    )
    cq = F.broadcast(
        cents_d.withColumn("__cnorm", norm(F.col("cvec")))
    )
    qs = emb.where(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 105)
    ).select(
        F.col("vec_id").alias("__qid"), F.col("embedding").alias("__qvec")
    ).withColumn("__qnorm", norm(F.col("__qvec")))
    probe_w = Window.partitionBy("__qid").orderBy(
        F.round(
            dot(F.col("__qvec"), F.col("cvec"))
            / (F.col("__qnorm") * F.col("__cnorm")),
            6,
        ).desc(),
        F.col("centroid_id").asc(),
    )
    probes = F.broadcast(
        qs.crossJoin(cq)
        .withColumn("__rn", F.row_number().over(probe_w))
        .where(F.col("__rn") <= 2)
        .select("__qid", "__qvec", "__qnorm", "centroid_id")
    )
    members = (
        lists.select(
            F.col("id").alias("vec_id"),
            F.col("cid").alias("centroid_id"),
        )
        .join(union_emb, "vec_id")
        .withColumn("__vnorm", norm(F.col("embedding")))
    )
    scored = members.join(probes, "centroid_id").where(
        F.col("vec_id") != F.col("__qid")
    ).select(
        F.col("__qid").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot(F.col("__qvec"), F.col("embedding"))
            / (F.col("__qnorm") * F.col("__vnorm")),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
    )


@q(
    "stream_exec_quantile_monitor",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(round(quantile_cont(value, 0.5), 6) AS DOUBLE) AS p50,
           CAST(round(quantile_cont(value, 0.95), 6) AS DOUBLE) AS p95,
           1 AS hist_p50_within_2bins, 1 AS hist_p95_within_2bins
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def stream_exec_quantile_monitor(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING quantile monitoring from the mergeable histogram
    store: per-batch (key, bin, n) partials fold by count sum, and
    p50/p95 are interpolated from the FOLDED histogram — no raw-value
    state, no rescan, bounded error by construction (the estimate and
    the true quantile live within one bin of each other; boundary
    rank conventions add at most one more). The emitted
    ``*_within_2bins`` flags are the certification: the oracle pins
    them to 1 next to the EXACT interpolated percentiles, so a broken
    fold or estimator hash-fails the gate. 50 bins over [0, 500) —
    width 10 on values spanning 500, i.e. a 2% error envelope from
    kilobytes of state per key."""
    from blackroad_feature_store_spark.streaming.stats import (
        merge_histogram,
        process_hist_batch,
    )

    lo, hi, n_bins = 0.0, 500.0, 50
    width = (hi - lo) / n_bins
    ev = load(spark, sf, "events").select("event_id", "event_type", "value")
    base = _scratch("stream_qmon_")
    hist_path = f"{base}/hist"
    _drain_foreach(
        _split_source(ev, base, "event_id"),
        lambda batch_df, batch_id: process_hist_batch(
            batch_df, batch_id, hist_path,
            ["event_type"], "value", lo, hi, n_bins,
        ),
        base,
    )

    hist = merge_histogram(spark, hist_path)
    wb = Window.partitionBy("event_type").orderBy("bin")
    wt = Window.partitionBy("event_type")
    cum = hist.withColumn("cum", F.sum("n").over(wb)).withColumn(
        "tot", F.sum("n").over(wt)
    )

    def hist_q(q: float, out: str) -> DataFrame:
        pos = F.col("tot") * F.lit(q)
        inbin = (F.col("cum") >= pos) & ((F.col("cum") - F.col("n")) < pos)
        est = (
            F.lit(lo)
            + F.col("bin") * F.lit(width)
            + F.lit(width)
            * (pos - (F.col("cum") - F.col("n")))
            / F.col("n")
        )
        return (
            cum.where(inbin)
            .groupBy("event_type")
            .agg(F.min(est).alias(out))
        )

    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
    )
    out = (
        exact.join(hist_q(0.5, "h50"), "event_type")
        .join(hist_q(0.95, "h95"), "event_type")
    )
    return out.select(
        "event_type",
        "n",
        "p50",
        "p95",
        F.when(F.abs(F.col("h50") - F.col("p50")) <= 2 * width, 1)
        .otherwise(0)
        .alias("hist_p50_within_2bins"),
        F.when(F.abs(F.col("h95") - F.col("p95")) <= 2 * width, 1)
        .otherwise(0)
        .alias("hist_p95_within_2bins"),
    ).orderBy("event_type")


@q(
    "stream_exec_cluster_drift",
    # 4 unrolled assignments: assign4 is the assignment against the
    # TRAINED cents3 — the deployed index both populations score on.
    _sql_kmeans(4, 8, 10_000)
    + """,
    split AS (SELECT a.vec_id, a.cid,
                     CASE WHEN a.vec_id % 2 = 0 THEN 1 ELSE 0 END AS r
              FROM assign4 a),
    frame AS (SELECT DISTINCT cid FROM assign4),
    c AS (SELECT cid, sum(r) AS n_ref, sum(1 - r) AS n_cur
          FROM split GROUP BY cid),
    f AS (SELECT frame.cid,
                 coalesce(c.n_ref, 0) AS n_ref,
                 coalesce(c.n_cur, 0) AS n_cur
          FROM frame LEFT JOIN c USING (cid)),
    t AS (SELECT sum(n_ref) AS tot_ref, sum(n_cur) AS tot_cur FROM f)
    SELECT f.cid AS cluster_id,
           CAST(f.n_ref AS BIGINT) AS n_ref,
           CAST(f.n_cur AS BIGINT) AS n_cur,
           round(((f.n_ref + 0.5) / (t.tot_ref + 4.0)
                  - (f.n_cur + 0.5) / (t.tot_cur + 4.0))
                 * ln(((f.n_ref + 0.5) / (t.tot_ref + 4.0))
                      / ((f.n_cur + 0.5) / (t.tot_cur + 4.0))), 6)
               AS psi_term
    FROM f, t
    """,
)
def stream_exec_cluster_drift(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING cluster-population drift — the round's clustering
    work wired into the monitoring stack: the exactly-replayable
    k-means trains centroids once; the serving stream (odd vec_ids,
    two REAL micro-batches) is assigned per batch against the
    broadcast trained centroids and per-cluster count partials land in
    the shared batch_id-partitioned stats store; per-cluster PSI terms
    compare the folded streaming counts against the even-id baseline
    population. Integer-exact assignment means the oracle replays
    training AND scoring over the whole table. Smoothing constant is
    0.5 per cluster with the catalog's k=8 (4.0), matching the
    drift-monitor convention."""
    from blackroad_feature_store_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit_predict,
        quantize_vectors,
    )
    from blackroad_feature_store_spark.streaming.stats import (
        merge_stats,
        process_stats_batch,
    )

    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    _, cents = kmeans_fit_predict(
        emb, k=8, iterations=3, return_centroids=True
    )
    # Both populations score against the DEPLOYED trained centroids
    # (cents after the last update) — the oracle's assign4.
    full_assign = kmeans_assign(quantize_vectors(emb), cents).select(
        F.col("id").alias("vec_id"), F.col("cid").alias("cluster_id")
    ).localCheckpoint()
    ref = (
        full_assign.where(F.col("vec_id") % 2 == 0)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    frame = full_assign.select("cluster_id").distinct()

    # Serving window: odd vec_ids streamed in two REAL micro-batches.
    base = _scratch("stream_cdrift_")
    cur = emb.where(F.col("vec_id") % 2 != 0)
    stats_path = f"{base}/stats"

    def _score(batch_df: DataFrame, batch_id: int) -> None:
        assigned = kmeans_assign(
            quantize_vectors(batch_df), cents
        ).withColumnRenamed("cid", "cluster_id")
        process_stats_batch(
            assigned, batch_id, stats_path, ["cluster_id"], "id"
        )

    _drain_foreach(_split_source(cur, base, "vec_id"), _score, base)

    cur_counts = merge_stats(spark, stats_path).select(
        "cluster_id", F.col("n").alias("n_cur")
    )
    f = (
        frame.join(ref, "cluster_id", "left")
        .join(cur_counts, "cluster_id", "left")
        .select(
            "cluster_id",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    t = f.agg(
        F.sum("n_ref").alias("tot_ref"), F.sum("n_cur").alias("tot_cur")
    )
    pr = (F.col("n_ref") + 0.5) / (F.col("tot_ref") + 4.0)
    pc = (F.col("n_cur") + 0.5) / (F.col("tot_cur") + 4.0)
    return f.crossJoin(F.broadcast(t)).select(
        "cluster_id",
        "n_ref",
        "n_cur",
        F.round((pr - pc) * F.log(pr / pc), 6).alias("psi_term"),
    )


def _sql_pagerank_trade(iters: int, scale: int) -> str:
    """Unrolled oracle for the integer fixed-point PageRank
    (`operators/graph.py`): edge shares and contributions floor-divide
    per edge (exact, order-independent), damping is integer too."""
    s = f"CAST({scale} AS BIGINT)"
    parts = [
        f"""
    WITH ew AS (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
    nodes AS (SELECT src AS node FROM ew
              UNION SELECT dst FROM ew),
    outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w
             FROM ew GROUP BY src),
    shares AS (SELECT e.src, e.dst, (e.w * {s}) // o.out_w AS p
               FROM ew e JOIN outw o USING (src)),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    r0 AS (SELECT node, {s} // nn.n AS rank FROM nodes, nn)"""
    ]
    for i in range(1, iters + 1):
        parts.append(f""",
    c{i} AS (SELECT sh.dst,
                CAST(sum((r.rank * sh.p) // {s}) AS BIGINT) AS c
             FROM shares sh JOIN r{i - 1} r ON r.node = sh.src
             GROUP BY sh.dst),
    r{i} AS (SELECT n.node,
                CAST((15 * {s}) // (100 * nn.n)
                     + (85 * COALESCE(c.c, 0)) // 100 AS BIGINT) AS rank
             FROM nodes n CROSS JOIN nn
             LEFT JOIN c{i} c ON c.dst = n.node)""")
    parts.append(f"""
    SELECT nation.n_name, r{iters}.rank
    FROM r{iters} JOIN nation ON n_nationkey = r{iters}.node
    """)
    return "".join(parts)


@q("graph_pagerank_trade", _sql_pagerank_trade(3, 1_000_000_000))
def graph_pagerank_trade(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted PageRank over the supplier-nation -> customer-nation
    trade graph (`operators/graph.py::pagerank`), 3 iterations,
    hash-certified: ranks live in 1e-9 fixed-point units and every
    accumulation is integer-exact, so the iterative run replays on
    any partitioning. The 100 TB cost center is the fact-to-graph
    reduction — broadcast dim joins + one map-side-combined
    groupBy(src, dst) — not the iteration on the reduced graph."""
    from blackroad_feature_store_spark.operators.graph import pagerank

    li = load(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    sup = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    ords = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    edges = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(ords, li.l_orderkey == ords.o_orderkey)
        .join(F.broadcast(cust), ords.o_custkey == cust.c_custkey)
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
    )
    pr = pagerank(edges, iterations=3)
    nation = load(spark, sf, "nation").select("n_nationkey", "n_name")
    return pr.join(
        F.broadcast(nation), pr.node == nation.n_nationkey
    ).select("n_name", "rank")


@q(
    "core_set_ops",
    """
    SELECT c_custkey, 'both' AS src FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_acctbal > 0)
    UNION ALL
    SELECT c_custkey, 'only_building' AS src FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_acctbal > 0)
    """,
)
def core_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Set operations (SURVEY §2.11 — absent from the reference, free
    in Spark): INTERSECT and EXCEPT between customer cohorts, tagged
    and unioned."""
    building = (
        load(spark, sf, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    positive = (
        load(spark, sf, "customer")
        .where(F.col("c_acctbal") > 0)
        .select("c_custkey")
    )
    both = building.intersect(positive).withColumn("src", F.lit("both"))
    only_b = building.exceptAll(positive).distinct().withColumn(
        "src", F.lit("only_building")
    )
    return both.unionByName(only_b)


@q(
    "core_rollup",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_spend
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def core_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (status → priority → grand
    total) — one pass, multi-level aggregates; decimal-exact sums."""
    orders = load(spark, sf, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_spend"),
    )


@q(
    "core_semi_anti",
    """
    SELECT c.c_custkey, 'has_orders' AS kind
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT c.c_custkey, 'no_orders' AS kind
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def core_semi_anti(spark: SparkSession, sf: str) -> DataFrame:
    """Semi and anti joins (EXISTS / NOT EXISTS) — customers with and
    without orders; the anti side is the classic orphan check."""
    cust = load(spark, sf, "customer").select("c_custkey")
    orders = load(spark, sf, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    semi = cust.join(orders, "c_custkey", "left_semi").withColumn(
        "kind", F.lit("has_orders")
    )
    anti = cust.join(orders, "c_custkey", "left_anti").withColumn(
        "kind", F.lit("no_orders")
    )
    return semi.unionByName(anti)


@q(
    "core_date_arith",
    """
    SELECT o_orderkey,
           date_diff('day', o_orderdate, TIMESTAMP '1999-01-01 00:00:00')
               AS days_before_cutoff,
           strftime(o_orderdate, '%Y-%m') AS order_month,
           CAST(quarter(o_orderdate) AS INT) AS order_quarter,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d')
               AS due_date
    FROM orders
    """,
)
def core_date_arith(spark: SparkSession, sf: str) -> DataFrame:
    """Date arithmetic (SURVEY §2.11): day differences, month/quarter
    extraction, interval addition — pure narrow projections."""
    orders = load(spark, sf, "orders")
    return orders.select(
        "o_orderkey",
        F.datediff(
            F.lit("1999-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days_before_cutoff"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.quarter("o_orderdate").cast("int").alias("order_quarter"),
        F.date_format(
            F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd"
        ).alias("due_date"),
    )


# ---------------------------------------------------------------------------
# General-SQL surface, round 3: window functions, pivot, range frames,
# sketches, range joins, percentiles
# ---------------------------------------------------------------------------


@q(
    "core_window_funcs",
    """
    SELECT o_orderkey,
           o_custkey,
           lag(o_totalprice)  OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           CAST(rank()   OVER w AS INT) AS rnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def core_window_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Analytic window functions (lag/lead/ntile/rank) per customer in
    order-date order — the per-entity history navigation a feature
    pipeline uses for "previous snapshot" features. Ordering is made
    total with the orderkey tiebreak, so every engine agrees."""
    orders = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.rank().over(w).cast("int").alias("rnk"),
    )


@q(
    "core_pivot",
    """
    SELECT c_mktsegment,
           count(*) FILTER (o_orderstatus = 'F') AS n_f,
           count(*) FILTER (o_orderstatus = 'O') AS n_o,
           count(*) FILTER (o_orderstatus = 'P') AS n_p,
           CAST(round(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 2)
                AS DOUBLE) AS rev_f
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def core_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot (long→wide): order counts and F-revenue per market segment
    spread across status columns — Spark's relational pivot operator
    with an explicit value list (no extra distinct-values scan), which
    is exactly conditional aggregation and shuffles once."""
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    wide = (
        joined.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("rev"),
        )
    )
    return wide.select(
        "c_mktsegment",
        F.coalesce("F_n", F.lit(0)).alias("n_f"),
        F.coalesce("O_n", F.lit(0)).alias("n_o"),
        F.coalesce("P_n", F.lit(0)).alias("n_p"),
        F.col("F_rev").alias("rev_f"),
    )


@q(
    "core_rolling_range",
    """
    SELECT o_orderkey,
           CAST(round(
               sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE))
                   OVER w
               / count(*) OVER w, 6) AS DOUBLE) AS avg_90d,
           CAST(count(*) OVER w AS BIGINT) AS n_90d
    FROM (SELECT o_orderkey, o_custkey, o_totalprice,
                 epoch(CAST(o_orderdate AS TIMESTAMP)) AS ts_s
          FROM orders)
    WINDOW w AS (PARTITION BY o_custkey ORDER BY ts_s
                 RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW)
    """,
)
def core_rolling_range(spark: SparkSession, sf: str) -> DataFrame:
    """Time-range window frame (hypertable-style rolling aggregate):
    per customer, the trailing-90-day average order value at every
    order. RANGE frames are tie-insensitive (all equal timestamps are
    in-frame), so the result is deterministic without a tiebreak; the
    frame is expressed in epoch seconds so both engines bound it
    identically."""
    orders = load(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.unix_timestamp(F.col("o_orderdate").cast("timestamp")).alias(
            "ts_s"
        ),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("ts_s")
        .rangeBetween(-7776000, 0)  # 90 days in seconds
    )
    price = F.col("o_totalprice").cast("decimal(18,2)").cast("double")
    return orders.select(
        "o_orderkey",
        F.round(
            F.sum(price).over(w) / F.count(F.lit(1)).over(w), 6
        ).alias("avg_90d"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_90d"),
    )


@q(
    "core_approx_distinct",
    """
    SELECT c_mktsegment,
           count(DISTINCT o_custkey) AS exact_customers,
           TRUE AS sketch_within_bound
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def core_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog distinct-count sketch per segment. Sketch estimates
    are engine-specific, so the oracle pins the EXACT count and the
    sketch is validated IN-QUERY: the row only survives if the HLL
    estimate lands within 15% of the exact count (default rsd is 5%,
    so a healthy sketch passes with wide margin — a broken one drops
    rows and fails the row-count gate). At 100 TB the sketch is the
    point: one pass, fixed memory, mergeable across partitions."""
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    per_seg = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count_distinct("o_custkey").alias("exact_customers"),
            F.approx_count_distinct("o_custkey").alias("approx_customers"),
        )
    )
    return per_seg.where(
        F.abs(F.col("approx_customers") - F.col("exact_customers"))
        <= 0.15 * F.col("exact_customers")
    ).select(
        "c_mktsegment",
        "exact_customers",
        F.lit(True).alias("sketch_within_bound"),
    )


@q(
    "core_range_join",
    """
    SELECT o.o_orderkey,
           count(l.l_linenumber) AS n_shipped_30d,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS shipped_value_30d
    FROM orders o LEFT JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <  o.o_orderdate + INTERVAL 30 DAY
    GROUP BY o.o_orderkey
    """,
)
def core_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Range-predicate join (interval containment): line items shipped
    within 30 days of their order's date. The equi key (orderkey)
    carries the join — the range predicate is a post-join filter, so
    this stays a hash join (never a cross product) and scales as the
    equi join does."""
    orders = load(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice"
    )
    joined = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (
            F.col("l_shipdate")
            < F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        ),
        "left",
    )
    return joined.groupBy("o_orderkey").agg(
        F.count("l_linenumber").alias("n_shipped_30d"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("shipped_value_30d"),
    )


@q(
    "core_percentiles",
    """
    SELECT o_orderstatus,
           CAST(round(quantile_cont(o_totalprice, 0.25), 6) AS DOUBLE) AS p25,
           CAST(round(quantile_cont(o_totalprice, 0.50), 6) AS DOUBLE) AS p50,
           CAST(round(quantile_cont(o_totalprice, 0.75), 6) AS DOUBLE) AS p75
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def core_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles per status — the distribution
    profile a data-quality gate reports next to mean/min/max. Both
    engines compute the same linear interpolation ((1-f)·lo + f·hi) on
    the same parquet doubles, rounded to 6 places."""
    orders = load(spark, sf, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 6).alias("p75"),
    )


# ---------------------------------------------------------------------------
# Training-pipeline sampling: deterministic splits and balanced downsampling
# ---------------------------------------------------------------------------


@q(
    "pipeline_train_split",
    """
    SELECT source,
           CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                     AS INT) % 100 < 90
                THEN 'train' ELSE 'holdout' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source, split
    """,
)
def pipeline_train_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash-based train/holdout split — the assignment a
    training pipeline must reproduce across runs and engines (never
    rand(): re-runs must not reshuffle documents between splits). The
    bucket is the first 16 bits of md5(doc_id) mod 100; 90/10. Pure
    narrow projection + one aggregation: at 100 TB the split is a
    filter, never a shuffle."""
    docs = load(spark, sf, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int") % 100
    )
    return (
        docs.withColumn(
            "split",
            F.when(bucket < 90, F.lit("train")).otherwise(F.lit("holdout")),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@q(
    "pipeline_split_leakage",
    _SQL_MINHASH_PAIRS
    + """
    , sp AS (
        SELECT doc_id,
               CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                             1, 4) AS INT) % 100 < 90
                    THEN 'train' ELSE 'holdout' END AS split
        FROM documents)
    SELECT sa.split AS split_a, sb.split AS split_b,
           count(*) AS n_pairs
    FROM pairs p
    JOIN sp sa ON p.id_a = sa.doc_id
    JOIN sp sb ON p.id_b = sb.doc_id
    GROUP BY split_a, split_b
    ORDER BY split_a, split_b
    """,
)
def pipeline_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Split-leakage audit: near-duplicate candidate pairs broken down
    by the train/holdout assignment of BOTH ends — the check that a
    holdout set isn't contaminated by near-copies of training docs
    (the eval-inflation failure mode split hashing alone cannot
    prevent, since near-dups hash independently). Composes the
    deterministic md5 split of pipeline_train_split with the LSH
    candidate generation of dedup_minhash_pairs; any row with
    split_a != split_b is leakage to remediate (drop the holdout
    member or re-split by cluster). The pair frame is LSH-bucketed
    (never all-pairs) and the split map is a narrow projection of the
    corpus, so the audit costs one extra broadcast-sized join per side
    at any corpus scale."""
    docs = load(spark, sf, "documents")
    pairs = minhash_candidate_pairs(docs, num_bands=8, shingle_size=3)
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
        ).cast("int")
        % 100
    )
    sp = docs.select(
        "doc_id",
        F.when(bucket < 90, F.lit("train"))
        .otherwise(F.lit("holdout"))
        .alias("split"),
    )
    sa = sp.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = sp.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("split_a", "split_b")
    )


@q(
    "pipeline_balanced_sample",
    """
    WITH sized AS (
        SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    floor_n AS (SELECT min(n) AS target FROM sized),
    ranked AS (
        SELECT d.lang, d.doc_id,
               row_number() OVER (
                   PARTITION BY d.lang
                   ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
               ) AS rn
        FROM documents d)
    SELECT r.lang,
           count(*) AS n_sampled,
           min(r.doc_id) AS min_doc_id,
           max(r.doc_id) AS max_doc_id
    FROM ranked r, floor_n f
    WHERE r.rn <= f.target
    GROUP BY r.lang
    """,
)
def pipeline_balanced_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Class-balanced downsampling: every language keeps exactly the
    smallest class's document count, chosen deterministically by hash
    order (stable across runs/engines — no rand()). The per-class
    top-N is a window over the hash ordering; the class floor is a
    one-row broadcast join. The classic rebalance step before training
    on skewed multilingual corpora."""
    docs = load(spark, sf, "documents")
    target = F.broadcast(
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").alias("target"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = docs.select("lang", "doc_id").withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        ranked.crossJoin(target)
        .where(F.col("rn") <= F.col("target"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@q(
    "core_approx_quantiles",
    """
    SELECT o_orderstatus,
           CAST(round(quantile_cont(o_totalprice, 0.5), 2) AS DOUBLE)
               AS exact_median,
           TRUE AS sketch_within_bound
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def core_approx_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile sketch (Greenwald-Khanna percentile_approx) validated
    the same way as the HLL sketch: the oracle pins the EXACT median,
    and the sketch must land within 2% of it IN-QUERY or the row
    drops and the row-count gate fails. The sketch is the 100 TB tool:
    one pass, bounded memory, mergeable partials — the exact
    percentile needs a full sort per group."""
    orders = load(spark, sf, "orders")
    per = orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias(
            "exact_median"
        ),
        F.expr("percentile_approx(o_totalprice, 0.5, 10000)").alias(
            "approx_median"
        ),
    )
    return per.where(
        F.abs(F.col("approx_median") - F.col("exact_median"))
        <= 0.02 * F.col("exact_median")
    ).select(
        "o_orderstatus",
        "exact_median",
        F.lit(True).alias("sketch_within_bound"),
    )


@q(
    "core_sliding_windows",
    """
    SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start,
           event_type,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE)
               AS sum_value
    FROM (
        SELECT e.ts, e.event_type, e.value,
               date_trunc('minute', e.ts)
                 - INTERVAL (EXTRACT(minute FROM e.ts)::INT % 15) MINUTE
                 - INTERVAL (k.k * 15) MINUTE AS ws
        FROM events e
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k)
    WHERE ts >= ws AND ts < ws + INTERVAL 60 MINUTE
    GROUP BY 1, 2
    """,
)
def core_sliding_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding event-time windows (1h length, 15min slide) — the
    overlapping-window aggregation Structured Streaming runs with
    ``window(ts, '1 hour', '15 minutes')``; here in batch mode so the
    DuckDB oracle can replicate it (each event belongs to exactly 4
    windows — the oracle enumerates them with a generate_series cross
    join). Spark's window() explodes to the same 4 rows per event
    before one aggregation — at 100 TB the slide factor multiplies
    shuffle volume, which is why slides should divide the length."""
    events = load(spark, sf, "events")
    win = F.window("ts", "1 hour", "15 minutes")
    return (
        events.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )


@q(
    "core_salted_join",
    """
    SELECT s_nationkey,
           count(*) AS n_items,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def core_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Salted skew join, correctness-pinned: the fact side's key is
    salted (hash-pmod, deterministic) and the dimension side replicated
    once per salt, so a hot key spreads over 16 reducers — and the
    oracle proves the result is EXACTLY the plain join (salting is
    internal). The manual fallback for when AQE's runtime skew split
    can't apply."""
    from blackroad_feature_store_spark.operators.skew import salted_join

    li = load(spark, sf, "lineitem").select("l_suppkey", "l_extendedprice")
    supp = load(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(li, supp, on="l_suppkey", num_salts=16)
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("revenue"),
    )


@q(
    "text_repetition",
    r"""
    WITH toks AS (SELECT doc_id,
                         regexp_split_to_array(trim(text), '\s+') AS t
                  FROM documents),
    grams AS (SELECT doc_id,
                     CASE WHEN len(t) < 2
                          THEN [array_to_string(t, ' ')]
                          ELSE list_transform(
                                   generate_series(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+1], ' '))
                     END AS g
              FROM toks)
    SELECT doc_id,
           len(g) AS n_bigrams,
           len(list_distinct(g)) AS n_distinct,
           CAST(round(1.0 - CAST(len(list_distinct(g)) AS DOUBLE)
                            / CAST(len(g) AS DOUBLE), 6) AS DOUBLE)
               AS rep_ratio
    FROM grams
    """,
)
def text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition metric: fraction of repeated word
    bigrams per document (high → boilerplate / degenerate text, a
    standard pre-training quality filter). The bigram array, its
    distinct size, and the ratio are all computed per row; ``spread``
    fans the compute-heavy projection out when the scan is a single
    row group (r16: the whole query ran as ONE task at sf0.1 —
    3.5 s → 0.35 s measured; the guard makes it a no-op on a
    genuinely wide scan, where the projection is already parallel
    and shuffle-free)."""
    docs = spread(
        load(spark, sf, "documents").select("doc_id", "text"), "doc_id"
    )
    g = word_shingles(F.col("text"), 2)
    nd = F.size(F.array_distinct(g))
    n = F.size(g)
    return docs.select(
        "doc_id",
        n.alias("n_bigrams"),
        nd.alias("n_distinct"),
        F.round(
            F.lit(1.0) - nd.cast("double") / n.cast("double"), 6
        ).alias("rep_ratio"),
    )


@q(
    "core_asof_tolerance",
    """
    SELECT s.o_orderkey, s.o_custkey,
           r.o_orderkey   AS prev_orderkey,
           r.o_totalprice AS prev_totalprice
    FROM orders s
    LEFT JOIN orders r
      ON r.o_custkey = s.o_custkey
     AND r.o_orderdate < s.o_orderdate
     AND r.o_orderdate >= s.o_orderdate - INTERVAL 90 DAY
    QUALIFY row_number() OVER (
        PARTITION BY s.o_orderkey
        ORDER BY r.o_orderdate DESC, r.o_orderkey DESC) = 1
    """,
)
def core_asof_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    """Tolerance-bounded per-row as-of join (pandas merge_asof
    tolerance semantics): each order sees its customer's latest earlier
    order ONLY if it is within 90 days — staler history joins as NULL
    instead of silently serving old features. The bound is checked on
    the per-row pick: the latest earlier order is stale only if every
    earlier one is.
    """
    spine = load(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr("o_orderdate - INTERVAL 1 MICROSECOND").alias("__cutoff"),
    )
    recs = load(spark, sf, "orders").select(
        "o_custkey",
        F.col("o_orderkey").alias("prev_orderkey"),
        F.col("o_totalprice").alias("prev_totalprice"),
        F.col("o_orderdate").alias("r_orderdate"),
    )
    joined = as_of_join(
        spine,
        recs,
        on="o_custkey",
        ts_col="r_orderdate",
        as_of="__cutoff",
        tiebreakers=("prev_orderkey",),
        tolerance="90 days",
    )
    return joined.select(
        "o_orderkey", "o_custkey", "prev_orderkey", "prev_totalprice"
    )


@q(
    "core_cube",
    """
    SELECT coalesce(c_mktsegment, 'ALL') AS segment,
           coalesce(o_orderstatus, 'ALL') AS status,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE (c_mktsegment, o_orderstatus)
    """,
)
def core_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (segment, status): all four grouping-set combinations
    in ONE aggregation pass (Spark expands the grouping sets before the
    shuffle — one exchange regardless of how many sets). Completes the
    grouping-sets family next to core_rollup."""
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .cube("c_mktsegment", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("revenue"),
        )
        .select(
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n_orders",
            "revenue",
        )
    )


@q(
    "store_time_travel",
    """
    SELECT * FROM (VALUES
        (0, 'append',        3, 'e1,e2,e3'),
        (1, 'append',        5, 'e1,e2,e3,e4'),
        (2, 'delete-entity', 4, 'e1,e3,e4'),
        (3, 'compact',       4, 'e1,e3,e4'),
        (4, 'post-vacuum',   4, 'e1,e3,e4')
    ) AS t(version, op, n_records, entities)
    """,
)
def store_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Versioned-storage semantics through a real store (the Delta-style
    commit log in versioning.py): four commits — two batch appends, a
    GDPR delete, a compaction — then each version read back via
    ``records_df(version=...)`` (time travel / snapshot isolation), and
    a final read after ``vacuum`` proving reclamation never touches the
    live version. The reference inherits atomicity + one linear history
    from SQLite (feature_store.py:178-186); this is the file-backed
    equivalent, so every row here is deterministic and a literal-VALUES
    oracle pins it.
    """
    from blackroad_feature_store_spark.store import EntityRecord, FeatureStore

    fs = FeatureStore(spark, _scratch("fs_tt_"))
    fs.register_feature("score", "user", "int")
    g = fs.create_group("tt_g", ["score"], "user_id")

    def batch(*pairs):
        fs.write_features_batch(
            EntityRecord(
                group_id=g.id, entity_id=e, feature_values={"score": s},
                timestamp=f"2026-01-0{i+1}T00:00:00",
            )
            for i, (e, s) in enumerate(pairs)
        )

    batch(("e1", 1), ("e2", 2), ("e3", 3))          # version 0
    batch(("e4", 4), ("e1", 10))                    # version 1 (e1 updated)
    fs.delete_entity_records(g.id, "e2")            # version 2
    fs.compact_records(g.id)                        # version 3
    ops = {e["version"]: e["op"] for e in fs.history()}

    def snapshot(version, op):
        return (
            fs.records_df(g.id, version=version)
            .agg(
                F.count(F.lit(1)).alias("n_records"),
                F.array_join(
                    F.sort_array(F.collect_set("entity_id")), ","
                ).alias("entities"),
            )
            .select(
                F.lit(version).alias("version"),
                F.lit(op).alias("op"),
                "n_records",
                "entities",
            )
        )

    # Materialize the time-travel reads BEFORE vacuum: a version-pinned
    # snapshot is only valid while its files are retained (same
    # contract as Delta — vacuum shortens the travel horizon).
    versioned = [
        tuple(snapshot(v, ops[v]).collect()[0]) for v in range(4)
    ]
    fs.vacuum(retain_versions=1)  # drops superseded + pre-delete files
    after_vacuum = snapshot(fs.current_version, "post-vacuum").select(
        F.lit(4).alias("version"), "op", "n_records", "entities"
    )

    pinned = spark.createDataFrame(
        versioned, "version int, op string, n_records bigint, entities string"
    )
    return pinned.unionByName(after_vacuum)


@q(
    "store_bitemporal",
    """
    SELECT * FROM (VALUES
        ('v0_asof_jan02', 1),
        ('v0_asof_jan04', 1),
        ('v0_asof_jan06', 2),
        ('v1_asof_jan04', 99),
        ('v1_asof_jan06', 2),
        ('commit_ts_resolves_v0', 2)
    ) AS t(case_id, value)
    """,
)
def store_bitemporal(spark: SparkSession, sf: str) -> DataFrame:
    """Bitemporal reads through a real store: ``as_of=`` pins VALUE
    time (which snapshot was current), ``table_version=`` pins COMMIT
    time (what the table itself contained) — ``get_features`` takes
    both (store.py), distinguishing late-arriving data from data
    present all along, which the reference cannot express (its SQLite
    history is value-time only, feature_store.py:372-409).

    Timeline: commit v0 writes e1@Jan01=1 and e1@Jan05=2; commit v1
    backfills a LATE row e1@Jan03=99. So "as of Jan 04" is 1 against
    table v0 (the late row wasn't known yet) but 99 against v1 —
    while "as of Jan 06" is 2 against both (Jan05 snapshot-wins), and
    the backfill never rewrites it. The last case reads
    ``records_df(as_of_commit=<v0 commit ts>)`` and counts v0's rows —
    the wall-clock form of commit-time travel (Delta's TIMESTAMP AS
    OF). Every value is deterministic; a literal-VALUES oracle pins
    all six."""
    from blackroad_feature_store_spark.store import EntityRecord, FeatureStore

    fs = FeatureStore(spark, _scratch("fs_bt_"))
    fs.register_feature("score", "user", "int")
    g = fs.create_group("bt_g", ["score"], "user_id")

    fs.write_features_batch(  # commit v0: two on-time snapshots
        [
            EntityRecord(
                group_id=g.id, entity_id="e1",
                feature_values={"score": 1},
                timestamp="2026-01-01T00:00:00",
            ),
            EntityRecord(
                group_id=g.id, entity_id="e1",
                feature_values={"score": 2},
                timestamp="2026-01-05T00:00:00",
            ),
        ]
    )
    fs.write_features_batch(  # commit v1: LATE-arriving backfill
        [
            EntityRecord(
                group_id=g.id, entity_id="e1",
                feature_values={"score": 99},
                timestamp="2026-01-03T00:00:00",
            )
        ]
    )

    def read(table_version, as_of):
        got = fs.get_features(
            g.id, "e1", as_of=as_of, table_version=table_version
        )
        return got["score"]

    v0_commit_ts = next(
        h["ts"] for h in fs.history() if h["version"] == 0
    )
    cases = [
        ("v0_asof_jan02", read(0, "2026-01-02T00:00:00")),
        ("v0_asof_jan04", read(0, "2026-01-04T00:00:00")),
        ("v0_asof_jan06", read(0, "2026-01-06T00:00:00")),
        ("v1_asof_jan04", read(1, "2026-01-04T00:00:00")),
        ("v1_asof_jan06", read(1, "2026-01-06T00:00:00")),
        (
            "commit_ts_resolves_v0",
            fs.records_df(g.id, as_of_commit=v0_commit_ts).count(),
        ),
    ]
    return spark.createDataFrame(cases, "case_id string, value int")


# ---------------------------------------------------------------------------
# LLM-pipeline: corpus preparation (decontamination, chunking, tf-idf,
# PII redaction, robust outlier filtering)
# ---------------------------------------------------------------------------


@q(
    "pipeline_decontaminate",
    r"""
    WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
                  FROM documents),
    sh AS (SELECT doc_id,
                  unnest(CASE WHEN len(t) < 5
                         THEN [array_to_string(t, ' ')]
                         ELSE list_transform(generate_series(1, len(t) - 4),
                                             i -> array_to_string(t[i:i+4], ' '))
                         END) AS shingle
           FROM toks),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 23 = 0),
    hits AS (SELECT DISTINCT s.doc_id FROM sh s
             JOIN bench USING (shingle) WHERE s.doc_id % 23 <> 0)
    SELECT d.lang, count(*) AS n_train,
           count(h.doc_id) AS n_contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 23 <> 0
    GROUP BY d.lang
    """,
)
def pipeline_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix-C shape): flag training
    docs sharing any 5-token shingle with a held-out benchmark set
    (here the deterministic doc_id%23 slice standing in for an eval
    set). The benchmark's distinct shingles are BROADCAST — the corpus
    is scanned once with no shuffle, which is what makes this viable
    at 100 TB (eval sets are MBs; corpora are not). The train side is
    `spread` so the shingle projection parallelizes past the
    single-row-group scan partition (r11 — the probe straggler
    finding; the eval slice stays on the scan partitioning, it is
    eval-set-bounded by contract)."""
    docs = load(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 23 == 0)
    train = spread(docs.where(F.col("doc_id") % 23 != 0), "doc_id")
    return (
        decontaminate(train, bench, n=5, id_col="doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum(
                F.when(F.col("contaminated"), 1).otherwise(0)
            ).alias("n_contaminated"),
        )
    )


@q(
    "pipeline_decontaminate_winnow",
    r"""
    WITH norm AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
        FROM documents),
    h AS (
        SELECT doc_id,
               list_transform(range(1, length(s) - 8 + 2),
                   i -> CAST('0x' || substr(md5(substring(
                            s, CAST(i AS INT), 8)), 1, 14) AS BIGINT)
               ) AS hs
        FROM norm),
    fp AS (
        SELECT DISTINCT doc_id,
               list_min(list_slice(hs, CAST(j AS INT),
                                   CAST(j + 4 - 1 AS INT))) AS fingerprint
        FROM h, UNNEST(range(1, len(hs) - 4 + 2)) AS u(j)),
    bench AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 23 = 0),
    hits AS (
        SELECT f.doc_id FROM fp f JOIN bench USING (fingerprint)
        WHERE f.doc_id % 23 <> 0
        GROUP BY f.doc_id HAVING count(*) >= 2)
    SELECT d.lang, count(*) AS n_train,
           count(h.doc_id) AS n_contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 23 <> 0
    GROUP BY d.lang
    """,
)
def pipeline_decontaminate_winnow(spark: SparkSession, sf: str) -> DataFrame:
    """Character-level benchmark decontamination
    (`operators/corpus.py::decontaminate_winnow`): the winnowing
    companion to the word-shingle `pipeline_decontaminate` — any
    verbatim overlap of >= k+window-1 normalized characters with the
    eval slice is GUARANTEED to share a fingerprint, independent of
    tokenization or punctuation boundaries (the mid-word-spliced
    contamination a word 5-gram pass walks past). min_shared=2 trades
    recall for precision against short boilerplate substrings. Same
    broadcast discipline: eval fingerprints broadcast out, hit ids
    broadcast back, the training corpus never shuffles. The train
    side is `spread` (r11): the md5-per-character fingerprint
    projection is the dominant cost and a single-row-group scan would
    otherwise run it on ONE task — the probe straggler finding."""
    from blackroad_feature_store_spark.operators.corpus import (
        decontaminate_winnow,
    )

    docs = load(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 23 == 0)
    train = spread(docs.where(F.col("doc_id") % 23 != 0), "doc_id")
    return (
        decontaminate_winnow(
            train, bench, id_col="doc_id", k=8, window=4, min_shared=2
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum(
                F.when(F.col("contaminated"), 1).otherwise(0)
            ).alias("n_contaminated"),
        )
    )


@q(
    "text_pii_redaction",
    r"""
    WITH injected AS (
      SELECT lang,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com from 10.2.'
                  || CAST(doc_id % 250 AS VARCHAR)
                  || '.7 acct 9900' || CAST(doc_id AS VARCHAR) AS t0
      FROM documents),
    step1 AS (
      SELECT lang, t0,
             len(regexp_extract_all(
                 t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
               AS n_email,
             regexp_replace(
                 t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g') AS t1
      FROM injected),
    step2 AS (
      SELECT lang, t0, n_email,
             len(regexp_extract_all(
                 t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
               AS n_ip,
             regexp_replace(
                 t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                 '<IP>', 'g') AS t2
      FROM step1),
    step3 AS (
      SELECT lang, t0, n_email, n_ip,
             len(regexp_extract_all(t2, '[0-9]{6,}')) AS n_number,
             regexp_replace(t2, '[0-9]{6,}', '<NUM>', 'g') AS t3
      FROM step2)
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_email) AS BIGINT) AS emails,
           CAST(sum(n_ip) AS BIGINT) AS ips,
           CAST(sum(n_number) AS BIGINT) AS numbers,
           CAST(sum(len(t0) - len(t3)) AS BIGINT) AS chars_redacted
    FROM step3 GROUP BY lang
    """,
)
def text_pii_redaction(spark: SparkSession, sf: str) -> DataFrame:
    """Regex-tier PII scrub (emails / IPv4 / long digit runs →
    placeholder tokens), counted per category with replacement-order
    semantics (an email's digits never double-count as numbers). The
    synthetic corpus has no natural PII, so a deterministic injection
    (doc_id-derived email/IP/account) gives every row known ground
    truth. Pure regexp projections — scan-speed at any corpus size."""
    docs = load(spark, sf, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com from 10.2."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(".7 acct 9900"), F.col("doc_id").cast("string"),
    )
    counts = pii_counts(injected)
    return (
        docs.select(
            "lang",
            F.length(injected).alias("__len0"),
            counts["n_email"].alias("__e"),
            counts["n_ip"].alias("__i"),
            counts["n_number"].alias("__n"),
            F.length(redact_pii(injected)).alias("__len3"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__e").alias("emails"),
            F.sum("__i").alias("ips"),
            F.sum("__n").alias("numbers"),
            F.sum(F.col("__len0") - F.col("__len3")).alias("chars_redacted"),
        )
    )


@q(
    "pipeline_chunks",
    r"""
    WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
                  FROM documents),
    ch AS (SELECT doc_id, t,
                  unnest(generate_series(
                      0, CAST((greatest(len(t) - 32, 0) + 23) // 24 AS BIGINT)
                  )) AS chunk_id
           FROM toks)
    SELECT doc_id, chunk_id,
           len(t[chunk_id*24+1 : chunk_id*24+32]) AS chunk_tokens,
           md5(array_to_string(t[chunk_id*24+1 : chunk_id*24+32], ' '))
             AS chunk_md5
    FROM ch
    """,
)
def pipeline_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window chunking: overlapping 32-token windows at stride
    24 (8-token overlap), the sequence-prep step before packing
    training batches. One narrow projection + explode, rows ≈
    tokens/stride — no shuffle at any scale. Chunk text is returned as
    an md5 fingerprint to keep result sets bounded."""
    return chunk_documents(
        load(spark, sf, "documents"), chunk_size=32, stride=24
    )


@q(
    "pipeline_sentence_chunks",
    r"""
    WITH prep AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(text, '\b(table|value)\b',
                                           '\1.', 'g'),
                            '\bscan\b', 'scan!', 'g') AS txt
      FROM documents),
    arr AS (
      SELECT doc_id, regexp_extract_all(txt, '[^.!?]+[.!?]+|[^.!?]+') AS a
      FROM prep),
    num AS (
      SELECT doc_id, unnest(generate_series(1, len(a))) AS sid1, a
      FROM arr),
    sent AS (
      SELECT doc_id, sid1 - 1 AS sentence_id, trim(a[sid1]) AS sentence
      FROM num),
    tok AS (
      SELECT doc_id, sentence_id, sentence,
             len(regexp_split_to_array(sentence, '\s+')) AS t
      FROM sent WHERE len(sentence) > 0),
    packed AS (
      SELECT doc_id, sentence_id, sentence, t,
             CAST((sum(t) OVER (PARTITION BY doc_id ORDER BY sentence_id
                                ROWS UNBOUNDED PRECEDING) - t) // 24
                  AS BIGINT) AS chunk_id
      FROM tok)
    SELECT doc_id, chunk_id,
           count(*) AS n_sentences,
           CAST(sum(t) AS BIGINT) AS chunk_tokens,
           md5(string_agg(sentence, ' ' ORDER BY sentence_id)) AS chunk_md5
    FROM packed GROUP BY doc_id, chunk_id
    """,
)
def pipeline_sentence_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Sentence-aware chunking (operators/corpus.py sentence_chunks):
    regexp sentence segmentation + streaming no-lookahead packing at a
    24-token budget — boundaries never split a sentence, the semantic
    RAG/context-window prep needs and fixed-offset `pipeline_chunks`
    can't express. The synthetic corpus has no punctuation, so
    terminators are injected deterministically (`.` after table/value,
    `!` after scan) to give every doc a known multi-sentence structure
    with varying sentence lengths. One explode + one hash shuffle on
    doc_id shared by the packing window and the chunk aggregation."""
    docs = load(spark, sf, "documents").withColumn(
        "text",
        F.regexp_replace(
            F.regexp_replace("text", r"\b(table|value)\b", r"$1."),
            r"\bscan\b",
            "scan!",
        ),
    )
    return sentence_chunks(docs, max_tokens=24)


@q(
    "pipeline_sentence_dedup",
    r"""
    WITH prep AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(text, '\b(table|value)\b',
                                           '\1.', 'g'),
                            '\bscan\b', 'scan!', 'g') AS txt
      FROM documents),
    arr AS (
      SELECT doc_id, regexp_extract_all(txt, '[^.!?]+[.!?]+|[^.!?]+') AS a
      FROM prep),
    num AS (
      SELECT doc_id, unnest(generate_series(1, len(a))) AS sid1, a
      FROM arr),
    sent AS (
      SELECT doc_id, sid1 - 1 AS sentence_id, trim(a[sid1]) AS sentence
      FROM num),
    sfil AS (
      SELECT doc_id, sentence_id, sentence
      FROM sent WHERE len(sentence) > 0),
    boiler AS (
      SELECT sentence FROM sfil
      GROUP BY sentence HAVING count(DISTINCT doc_id) >= 3),
    kept AS (
      SELECT s.doc_id, s.sentence_id, s.sentence
      FROM sfil s ANTI JOIN boiler b ON s.sentence = b.sentence),
    agg AS (
      SELECT doc_id,
             md5(string_agg(sentence, ' ' ORDER BY sentence_id))
               AS text_md5,
             count(*) AS kept_sentences
      FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, count(*) AS n FROM sfil GROUP BY doc_id)
    SELECT a.doc_id, a.text_md5,
           CAST(a.kept_sentences AS BIGINT) AS kept_sentences,
           CAST(t.n - a.kept_sentences AS BIGINT) AS dropped_sentences
    FROM agg a JOIN tot t ON a.doc_id = t.doc_id
    """,
)
def pipeline_sentence_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Sentence-level boilerplate removal (operators/corpus.py
    sentence_dedup — the CCNet/RefinedWeb pass): a sentence occurring
    in >= 3 distinct documents is boilerplate and ALL its copies are
    dropped (keep-first would leave one page with the cookie banner);
    documents reassemble from survivors in order, all-boilerplate docs
    vanish. Same deterministic terminator injection as the other
    sentence queries. Spark keys the repeat count and the join on
    xxhash64(sentence) so only (hash, id) pairs shuffle; the oracle
    joins on the sentence text itself — parity therefore also certifies
    the hash pathway introduces no collisions on this corpus. Rebuilt
    text is md5-pinned through the value hash."""
    from blackroad_feature_store_spark.operators.corpus import (
        sentence_dedup,
    )

    docs = load(spark, sf, "documents").withColumn(
        "text",
        F.regexp_replace(
            F.regexp_replace("text", r"\b(table|value)\b", r"$1."),
            r"\bscan\b",
            "scan!",
        ),
    )
    out = sentence_dedup(docs, min_docs=3)
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.col("kept_sentences").cast("long").alias("kept_sentences"),
        F.col("dropped_sentences").cast("long").alias("dropped_sentences"),
    )


@q(
    "pipeline_sentence_windows",
    r"""
    WITH prep AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(text, '\b(table|value)\b',
                                           '\1.', 'g'),
                            '\bscan\b', 'scan!', 'g') AS txt
      FROM documents),
    arr AS (
      SELECT doc_id, regexp_extract_all(txt, '[^.!?]+[.!?]+|[^.!?]+') AS a
      FROM prep),
    num AS (
      SELECT doc_id, unnest(generate_series(1, len(a))) AS sid1, a
      FROM arr),
    sent AS (
      SELECT doc_id, sid1 - 1 AS sentence_id, trim(a[sid1]) AS sentence
      FROM num),
    sfil AS (
      SELECT doc_id, sentence_id, sentence,
             len(regexp_split_to_array(sentence, '\s+')) AS t
      FROM sent WHERE len(sentence) > 0),
    pos AS (
      SELECT doc_id, sentence, t,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY sentence_id) - 1 AS p
      FROM sfil),
    win AS (
      SELECT doc_id, p, sentence, t,
             unnest(generate_series(
               GREATEST(0, CAST(ceil((p - 3) / 2.0) AS INT)),
               CAST(floor(p / 2.0) AS INT))) AS window_id
      FROM pos)
    SELECT doc_id, CAST(window_id AS INT) AS window_id,
           count(*) AS n_sentences,
           CAST(sum(t) AS BIGINT) AS window_tokens,
           md5(string_agg(sentence, ' ' ORDER BY p)) AS window_md5
    FROM win GROUP BY doc_id, window_id
    """,
)
def pipeline_sentence_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping sentence windows (operators/corpus.py
    sentence_windows): window of 4 sentences sliding by 2, so adjacent
    retrieval chunks share 2 sentences and a fact straddling a chunk
    boundary is wholly inside some chunk — the sliding complement of
    `pipeline_sentence_chunks`' partitioning. One hash shuffle on
    doc_id shared by the dense re-rank and the per-window aggregation;
    each sentence replicates into <= ceil(4/2)=2 covering windows via
    an inline sequence() explode. Window text is md5-pinned."""
    from blackroad_feature_store_spark.operators.corpus import (
        sentence_windows,
    )

    docs = load(spark, sf, "documents").withColumn(
        "text",
        F.regexp_replace(
            F.regexp_replace("text", r"\b(table|value)\b", r"$1."),
            r"\bscan\b",
            "scan!",
        ),
    )
    return sentence_windows(docs, window_sentences=4, stride=2)


@q(
    "pipeline_normalize_text",
    r"""
    WITH prep AS (
      SELECT doc_id,
             replace(replace(text, 'a', 'a' || chr(769)),
                     'scan', 'sc' || chr(7) || 'an') AS txt
      FROM documents),
    norm AS (
      SELECT doc_id, txt,
             trim(regexp_replace(
                 regexp_replace(nfc_normalize(txt),
                                '[\x00-\x1F\x7F]', ' ', 'g'),
                 '\s+', ' ', 'g')) AS t
      FROM prep)
    SELECT doc_id, md5(t) AS text_md5,
           CAST(length(txt) - length(t) AS BIGINT) AS chars_delta
    FROM norm
    """,
)
def pipeline_normalize_text(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode corpus normalization (operators/text.py normalize_text):
    NFC canonicalization (Arrow-batched pandas UDF — no JVM builtin),
    control chars → space, whitespace collapse, trim. The synthetic
    corpus is pure ASCII, so mojibake is injected deterministically:
    every 'a' gains a COMBINING ACUTE (U+0301, composes to U+00E1
    under NFC) and every 'scan' gets a BEL control byte spliced in —
    so the pass exercises composition, control stripping, and the
    resulting whitespace collapse on every document. The normalized
    text is md5-pinned and the codepoint delta certified against
    DuckDB's ICU nfc_normalize."""
    from blackroad_feature_store_spark.operators.text import (
        normalize_text,
    )

    docs = load(spark, sf, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", "a", "a\u0301"),
            "scan",
            "sc\u0007an",
        ).alias("text"),
    )
    out = normalize_text(docs)
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.col("chars_delta").cast("long").alias("chars_delta"),
    )


@q(
    "text_tfidf_top_terms",
    r"""
    WITH terms AS (
      SELECT doc_id,
             unnest(list_filter(
                 string_split(trim(regexp_replace(lower(text), '[^a-z]+', ' ',
                                                  'g')), ' '),
                 x -> len(x) >= 3)) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM terms GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df
              FROM terms GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf, df,
           round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
    WHERE doc_id % 29 = 0
    QUALIFY row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term) <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """tf-idf keyword extraction: top-3 terms per document (sampled
    docs) by ``tf * ln(N/df)``. Corpus-wide document frequencies come
    from one extra aggregation whose output is vocabulary-sized and
    joined back BROADCAST; ranking is a per-doc window over rounded
    scores with a lexical tiebreak (deterministic across engines)."""
    docs = load(spark, sf, "documents")
    scored = tfidf_terms(docs).where(F.col("doc_id") % 29 == 0)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.col("term")
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= 3)
        .drop("__rk")
    )


@q(
    "text_outlier_docs",
    r"""
    WITH med AS (SELECT source, quantile_cont(n_chars, 0.5) AS m
                 FROM documents GROUP BY source),
    mad AS (SELECT d.source, quantile_cont(abs(d.n_chars - m.m), 0.5) AS v
            FROM documents d JOIN med m USING (source) GROUP BY d.source)
    SELECT d.source, count(*) AS n_docs,
           min(m.m) AS median_chars, min(a.v) AS mad_chars,
           count(*) FILTER (WHERE abs(d.n_chars - m.m) > 3 * a.v)
             AS n_outliers
    FROM documents d JOIN med m USING (source) JOIN mad a USING (source)
    GROUP BY d.source
    """,
)
def text_outlier_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Robust length-outlier filter: per-source median/MAD with a
    ``|x - median| > 3*MAD`` flag. Median absolute deviation instead of
    z-scores on purpose — exact interpolated percentiles over integer
    lengths are exactly representable, so the flag never depends on
    float summation order (stddev would make boundary docs flip
    between engines/partitionings)."""
    docs = load(spark, sf, "documents").select("source", "n_chars")
    flagged = mad_outliers(docs, "source", "n_chars", k=3.0)
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.first("group_median").alias("median_chars"),
        F.first("group_mad").alias("mad_chars"),
        F.sum(F.when(F.col("is_outlier"), 1).otherwise(0)).alias("n_outliers"),
    )


@q(
    "pipeline_pack_sequences",
    r"""
    WITH t AS (
      SELECT source, doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END
               AS n_tok
      FROM documents),
    c AS (SELECT source, doc_id, n_tok,
                 sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) - n_tok AS start
          FROM t)
    SELECT source, CAST(start // 256 AS BIGINT) AS bin_id,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
    FROM c GROUP BY source, bin_id
    """,
)
def pipeline_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing: documents assigned to 256-token trainer bins
    by cutting the concatenated token stream at budget boundaries
    (streaming packing, boundary doc spills forward). One cumulative
    window PARTITIONED by source — packing parallelizes across sources
    rather than serializing the corpus through a global sort."""
    from blackroad_feature_store_spark.operators.corpus import pack_sequences
    from blackroad_feature_store_spark.operators.text import token_count

    docs = load(spark, sf, "documents").select(
        "source", "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    packed = pack_sequences(
        docs, "source", ["doc_id"], "n_tok", budget=256
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("bin_tokens"),
    )


@q(
    "mm_audio_features",
    """
    SELECT doc_id AS asset_id,
           CAST(CASE CAST(('0x' || substr(sha256(text), 1, 2)) AS INT) % 4
                WHEN 0 THEN 8000 WHEN 1 THEN 16000
                WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS sample_rate,
           CAST(500 + CAST(('0x' || substr(sha256(text), 3, 4)) AS INT)
                      % 59500 AS BIGINT) AS duration_ms,
           round(CAST(('0x' || substr(sha256(text), 7, 2)) AS INT)
                 / 255.0 * 0.5 + 0.01, 6) AS rms,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256
    FROM documents
    """,
)
def mm_audio_features(spark: SparkSession, sf: str) -> DataFrame:
    """Audio-decode plumbing, same contract as ``mm_image_features``:
    mapInPandas Arrow-batch kernel with a deterministic digest-derived
    fake decoder (no audio codec in this container — honestly stubbed;
    schema/batching are real). Sample rate, duration, and RMS are pure
    functions of the payload sha256, so the oracle replays the whole
    Python-kernel path in SQL."""
    from blackroad_feature_store_spark.operators.multimodal import (
        audio_features,
    )

    assets = documents_as_assets(load(spark, sf, "documents"))
    return audio_features(assets, fake=True)


@q(
    "dedup_canonical",
    _SQL_MINHASH_PAIRS.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    clusters AS (SELECT a AS doc_id, min(b) AS cluster_id
                 FROM reach GROUP BY a),
"""
    + _SQL_PROFILE_BASE
    + """,
    sel AS (
      SELECT c.cluster_id, c.doc_id, s.quality,
             count(*) OVER (PARTITION BY c.cluster_id) AS n_members,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY s.quality DESC, c.doc_id) AS rk
      FROM clusters c JOIN scored s USING (doc_id))
    SELECT cluster_id, doc_id AS canonical_doc,
           quality AS canonical_quality, n_members
    FROM sel WHERE rk = 1
    """,
)
def dedup_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """The last stage of the dedup pipeline: per duplicate cluster,
    keep the best member (highest quality score, doc-id tiebreak) —
    candidates → clusters → canonical survivor. Cluster labels and
    quality profiles join on doc_id; survivor selection is one window
    over cluster-sized partitions (tiny after clustering)."""
    from blackroad_feature_store_spark.operators.dedup import (
        duplicate_clusters,
    )

    docs = load(spark, sf, "documents")
    pairs = minhash_candidate_pairs(docs, num_bands=8, shingle_size=3)
    clusters = duplicate_clusters(pairs)
    # spread: the quality-profile projection is per-row-expensive and
    # ran as ONE task on the single-row-group sf scan (r16 profile:
    # a 1.6 s single-task job; no-op on a wide scan).
    quality = text_profile(
        spread(docs.select("doc_id", "text"), "doc_id")
    ).select("doc_id", "quality")
    m = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.col("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        m.withColumn("n_members", F.count(F.lit(1)).over(wc))
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_doc"),
            F.col("quality").alias("canonical_quality"),
            "n_members",
        )
    )


@q(
    "tpch_q10_returns",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM customer
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returns(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting) adapted: 4-table join, the
    fact side filtered on return flag, revenue per customer, top-20.
    nation and the filtered customer dim broadcast; lineitem×orders is
    deliberately UN-hinted: orders is a date-filtered FACT table that
    grows with scale (~15 MB at sf0.1, multi-GB at 100×), so a forced
    broadcast would OOM the driver at cluster scale — AQE picks
    broadcast when the filtered side is actually small and falls back
    to shuffle join when it isn't (pinned by tests/test_plans.py).
    Decimal-input sums for engine-exact revenue (tpch_q1 pattern);
    deterministic top-20 via (revenue DESC, custkey) total order."""
    cust = load(spark, sf, "customer")
    nat = F.broadcast(load(spark, sf, "nation"))
    orders = load(spark, sf, "orders").where(
        F.col("o_orderdate")
        >= F.lit("1997-10-01 00:00:00").cast("timestamp")
    )
    li = load(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(cust.join(nat, cust.c_nationkey == nat.n_nationkey)),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@q(
    "core_event_funnel",
    """
    WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                FROM events),
    firsts AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'view')     AS fv,
             min(ts) FILTER (WHERE event_type = 'click')    AS fc,
             min(ts) FILTER (WHERE event_type = 'purchase') AS fp
      FROM ev GROUP BY user_id),
    staged AS (
      SELECT CASE
               WHEN fv IS NULL THEN 'no_view'
               WHEN fc IS NULL OR fc <= fv THEN 'view_only'
               WHEN fp IS NULL OR fp <= fc THEN 'view_click'
               ELSE 'full_funnel'
             END AS stage
      FROM firsts)
    SELECT stage, count(*) AS n_users FROM staged GROUP BY stage
    """,
)
def core_event_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase) by
    first-occurrence ordering per user — one conditional-min
    aggregation over the event stream, then a stage bucket. A single
    groupBy(user) shuffle at any scale; the first-ts simplification
    (first click must follow first view) keeps it one pass."""
    ev = load(spark, sf, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("fc"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("fp"),
    )
    stage = (
        F.when(F.col("fv").isNull(), "no_view")
        .when(F.col("fc").isNull() | (F.col("fc") <= F.col("fv")),
              "view_only")
        .when(F.col("fp").isNull() | (F.col("fp") <= F.col("fc")),
              "view_click")
        .otherwise("full_funnel")
    )
    return (
        firsts.select(stage.alias("stage"))
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@q(
    "core_retention_cohorts",
    """
    WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    cohorts AS (SELECT user_id,
                       date_trunc('week', min(ts)) AS cohort_wk
                FROM ev GROUP BY user_id),
    active AS (SELECT DISTINCT e.user_id,
                      date_trunc('week', e.ts) AS wk
               FROM ev e)
    SELECT strftime(c.cohort_wk, '%Y-%m-%d') AS cohort_week,
           CAST(datediff('day', c.cohort_wk, a.wk) // 7 AS BIGINT)
             AS week_offset,
           count(*) AS n_users
    FROM active a JOIN cohorts c USING (user_id)
    GROUP BY c.cohort_wk, week_offset
    """,
)
def core_retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen week,
    counted per week offset they stayed active. Two aggregations (first
    event per user; distinct active weeks) joined on user — cohort
    assignment is a broadcast-back of a user-sized relation."""
    ev = load(spark, sf, "events")
    cohorts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_wk")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    return (
        active.join(F.broadcast(cohorts), "user_id")
        .select(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(
                F.datediff(F.col("wk"), F.col("cohort_wk")) / 7
            ).alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@q(
    "core_json_props",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def core_json_props(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured payload extraction: a JSON string column
    (`events.props`) parsed and aggregated without ever materializing
    an intermediate table — `get_json_object` is a JVM expression
    inside the scan projection, so the parse runs at scan speed and
    only the extracted integer reaches the aggregate."""
    ev = load(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@q(
    "core_oracle_canary",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_region,
           CAST(sum(r_regionkey) AS BIGINT) AS sum_key,
           round(sum(r_regionkey) / 7.0, 6) AS div_round,
           CAST('0x' || substr(md5('canary'), 1, 4) AS INT) AS hex_probe,
           CAST(len(regexp_extract_all('a1b22c333x4', '[0-9]+')) AS BIGINT)
             AS n_matches,
           CAST(json_extract_string('{"k": 41}', '$.k') AS BIGINT)
             AS json_probe
    FROM region
    """,
)
def core_oracle_canary(spark: SparkSession, sf: str) -> DataFrame:
    """Driver-divergence canary: a one-row probe of every construct the
    DuckDB oracle layer has ever disagreed on (integer-sum width — the
    r6 HUGEINT render divergence — hex-string casts, regex match
    counting, JSON scalar extraction, round-6 double division). Every
    value is a literal or a 5-row region aggregate, so a red row here
    localizes an environment/renderer shift rather than an operator
    bug. Expected: (5, 10, 1.428571, hex16(md5('canary')[:4]), 4, 41).
    """
    r = load(spark, sf, "region")
    agg = r.agg(
        F.count(F.lit(1)).alias("n_region"),
        F.sum("r_regionkey").cast("long").alias("sum_key"),
        F.round(F.sum("r_regionkey") / F.lit(7.0), 6).alias("div_round"),
    )
    return agg.select(
        "n_region",
        "sum_key",
        "div_round",
        F.conv(F.substring(F.md5(F.lit("canary")), 1, 4), 16, 10)
        .cast("int")
        .alias("hex_probe"),
        F.size(
            F.regexp_extract_all(F.lit("a1b22c333x4"), F.lit("[0-9]+"), F.lit(0))
        )
        .cast("long")
        .alias("n_matches"),
        F.get_json_object(F.lit('{"k": 41}'), "$.k")
        .cast("long")
        .alias("json_probe"),
    )


@q(
    "core_correlated_subquery",
    """
    SELECT o.o_orderkey,
           o.o_custkey,
           CAST(o.o_totalprice AS DOUBLE) AS totalprice
    FROM orders o
    WHERE o.o_totalprice > 2 * (
        SELECT avg(o2.o_totalprice) FROM orders o2
        WHERE o2.o_custkey = o.o_custkey)
    """,
)
def core_correlated_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated scalar subquery (orders worth >2x their customer's
    average), expressed as literal SQL so Catalyst demonstrates
    decorrelation: the optimizer rewrites the per-row subquery into
    ONE aggregate + join — the plan a hand-written window/join would
    produce, without hand-writing it. avg() compares only (never
    surfaced), so float summation order cannot flip a row: the margin
    between 2x-avg and any price dwarfs double noise here; outputs are
    raw column values."""
    orders = load(spark, sf, "orders")
    orders.createOrReplaceTempView("__corr_orders")
    return spark.sql(
        """
        SELECT o.o_orderkey,
               o.o_custkey,
               CAST(o.o_totalprice AS DOUBLE) AS totalprice
        FROM __corr_orders o
        WHERE o.o_totalprice > 2 * (
            SELECT avg(o2.o_totalprice) FROM __corr_orders o2
            WHERE o2.o_custkey = o.o_custkey)
        """
    )


@q(
    "store_pit_precedence",
    """
    SELECT * FROM (VALUES
        ('u1', 10,   'a'),
        ('u2', 2,    'b'),
        ('u3', 30,   CAST(NULL AS VARCHAR)),
        ('u4', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR))
    ) AS t(entity_id, score, city)
    """,
)
def store_pit_precedence(spark: SparkSession, sf: str) -> DataFrame:
    """J1 multi-group semantics pinned end-to-end through a real store:
    point_in_time_join with TWO groups — later group overrides earlier
    on key collision, null-fill never clobbers, records after the
    cutoff never leak, entities with no data still get a row
    (reference feature_store.py:411-448; the reference's
    ``row.update`` / ``setdefault`` asymmetry). Deterministic by
    construction → literal-VALUES oracle."""
    from blackroad_feature_store_spark.store import EntityRecord, FeatureStore

    fs = FeatureStore(spark, _scratch("fs_pitp_"))
    fs.register_feature("score", "user", "int")
    fs.register_feature("city", "user", "str")
    g1 = fs.create_group("base", ["score", "city"], "user_id")
    g2 = fs.create_group("override", ["score"], "user_id")
    fs.write_features_batch(
        [
            EntityRecord(g1.id, "u1", {"score": 1, "city": "a"},
                         "2026-01-01T00:00:00"),
            EntityRecord(g1.id, "u2", {"score": 2, "city": "b"},
                         "2026-01-01T00:00:00"),
            # After the cutoff: must NOT leak into the join.
            EntityRecord(g1.id, "u1", {"score": 99, "city": "z"},
                         "2026-03-01T00:00:00"),
            EntityRecord(g2.id, "u1", {"score": 10}, "2026-01-02T00:00:00"),
            EntityRecord(g2.id, "u3", {"score": 30}, "2026-01-02T00:00:00"),
        ]
    )
    rows = fs.point_in_time_join(
        ["u1", "u2", "u3", "u4"], [g1.id, g2.id],
        timestamp="2026-02-01T00:00:00",
    )
    return spark.createDataFrame(
        [(r["entity_id"], r["score"], r["city"]) for r in rows],
        "entity_id string, score bigint, city string",
    )


@q(
    "core_histogram",
    """
    WITH cents AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS c
      FROM orders)
    SELECT c // 5000000 AS bucket,
           count(*) AS n,
           CAST(min(c) AS DOUBLE) / 100 AS lo,
           CAST(max(c) AS DOUBLE) / 100 AS hi
    FROM cents
    GROUP BY bucket
    """,
)
def core_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width histogram binning in integer cents — bucket =
    cents div width, so boundaries are exact integer division on both
    engines (a double `/` can put a boundary value in either bin, and
    DuckDB's `//` on DECIMAL is round-divide, not floor). One
    map-side-combinable aggregation; the histogram shape every
    profiling pass wants at scale."""
    orders = load(spark, sf, "orders")
    cents = (
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("long")
    return (
        orders.select(cents.alias("c"))
        .select(F.expr("c div 5000000").alias("bucket"), "c")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.min("c").cast("double") / 100).alias("lo"),
            (F.max("c").cast("double") / 100).alias("hi"),
        )
    )


@q(
    "pipeline_domain_cap",
    """
    WITH ranked AS (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents)
    SELECT source,
           count(*) AS n_total,
           CAST(sum(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           min(CASE WHEN rn <= 10 THEN doc_id END) AS min_kept_doc_id
    FROM ranked GROUP BY source
    """,
)
def pipeline_domain_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain frequency capping — the anti-overrepresentation step
    every web-scale corpus applies (cap docs per registrable domain so
    one crawl-heavy site can't dominate training): keep at most N docs
    per source, chosen deterministically by hash order (stable across
    runs and partitionings — no rand()). One window shuffle on source;
    a skewed mega-domain is the operators/skew.py salting case at
    100 TB. Output is the per-source kept/total audit report."""
    docs = load(spark, sf, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = docs.select("source", "doc_id").withColumn(
        "rn", F.row_number().over(w)
    )
    kept = F.when(F.col("rn") <= 10, 1).otherwise(0)
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(kept).cast("long").alias("n_kept"),
        F.min(F.when(F.col("rn") <= 10, F.col("doc_id"))).alias(
            "min_kept_doc_id"
        ),
    )


@q(
    "pipeline_dedup_report",
    f"""
    WITH fp AS (SELECT source, {_SQL_FINGERPRINT} AS f
                FROM (SELECT source, text FROM documents) u)
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT f) AS n_unique,
           round(1.0 - CAST(count(DISTINCT f) AS DOUBLE) / count(*), 6)
               AS dup_rate
    FROM fp GROUP BY source
    """,
)
def pipeline_dedup_report(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup AUDIT report: per-source document counts, distinct
    normalized fingerprints, and duplicate rate — the measurement a
    pipeline runs before/after `dedup_exact` to decide where the
    duplication lives. Fingerprint = the same md5(normalized text) as
    the dedup operators (operators/dedup.py:42). count(DISTINCT) is a
    two-phase partial aggregation in Spark — no all-rows-to-one-node
    stage at any scale."""
    from blackroad_feature_store_spark.operators.text import fingerprint

    docs = load(spark, sf, "documents")
    fp = docs.select("source", fingerprint(F.col("text")).alias("f"))
    return fp.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("f").alias("n_unique"),
        F.round(
            1.0 - F.countDistinct("f").cast("double") / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
    )


@q(
    "pipeline_mixture_weights",
    """
    WITH per AS (SELECT lang,
                        CAST(sum(n_chars) AS BIGINT) AS lang_chars
                 FROM documents GROUP BY lang)
    SELECT lang, lang_chars,
           round(CAST(lang_chars AS DOUBLE)
                 / sum(lang_chars) OVER (), 6) AS share,
           round((CAST(sum(lang_chars) OVER () AS DOUBLE)
                  / count(*) OVER ()) / lang_chars, 6) AS uniform_factor
    FROM per
    """,
)
def pipeline_mixture_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Data-mixture rebalancing weights: each language's share of the
    corpus character budget and the up/down-sampling factor that would
    equalize shares — the knob multilingual training mixes turn. The
    global window runs over the POST-AGGREGATION frame (one row per
    language, dozens at most), so the single-partition window is
    bounded at any corpus scale; the heavy lifting is the map-side
    combinable sum(n_chars) GROUP BY."""
    docs = load(spark, sf, "documents")
    per = docs.groupBy("lang").agg(
        F.sum("n_chars").cast("long").alias("lang_chars")
    )
    w = Window.partitionBy()
    return per.select(
        "lang",
        "lang_chars",
        F.round(
            F.col("lang_chars").cast("double") / F.sum("lang_chars").over(w),
            6,
        ).alias("share"),
        F.round(
            (F.sum("lang_chars").over(w).cast("double")
             / F.count(F.lit(1)).over(w))
            / F.col("lang_chars"),
            6,
        ).alias("uniform_factor"),
    )


@q(
    "pipeline_dup_spans",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS t
        FROM documents),
    sized AS (SELECT doc_id, t, len(t) AS nt FROM toks),
    grams AS (
        SELECT doc_id, i AS start,
               array_to_string(list_slice(t, i, i + 4), ' ') AS gram
        FROM sized, UNNEST(range(1, nt - 3)) AS u(i)
        WHERE nt >= 5),
    dup AS (SELECT gram FROM grams
            GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    dwin AS (SELECT g.doc_id, g.start FROM grams g JOIN dup USING (gram)),
    cov AS (
        SELECT doc_id, count(DISTINCT p) AS dup_tokens
        FROM dwin, UNNEST(range(start, start + 5)) AS v(p)
        GROUP BY doc_id)
    SELECT s.doc_id, s.nt AS n_tokens,
           COALESCE(c.dup_tokens, 0) AS dup_tokens,
           CASE WHEN s.nt > 0
                THEN round(COALESCE(c.dup_tokens, 0) * 1.0 / s.nt, 6)
           END AS dup_frac
    FROM sized s LEFT JOIN cov c USING (doc_id)
    """,
)
def pipeline_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Span-level cross-document dedup signal
    (`operators/corpus.py::duplicated_ngram_spans` — Lee et al. 2021 /
    RefinedWeb dup_ngram coverage): per document, the fraction of
    tokens covered by a 5-gram that also appears in another document.
    The Spark side marks duplicated grams with ONE shuffle (window
    min≠max over gram) and merges overlapping spans with a
    gaps-and-islands pass; the oracle is an INDEPENDENT formulation
    (groupBy-having + distinct exploded positions) — same semantics,
    different algorithm, so agreement certifies the operator rather
    than replaying it."""
    from blackroad_feature_store_spark.operators.corpus import (
        duplicated_ngram_spans,
    )

    docs = load(spark, sf, "documents").select("doc_id", "text")
    return duplicated_ngram_spans(docs, n=5)


@q(
    "core_bucketed_join",
    """
    SELECT o_orderpriority,
           count(*) AS n_lines,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def core_bucketed_join(spark: SparkSession, sf: str) -> DataFrame:
    """Co-located fact⋈fact join via bucketed tables
    (`sources/bucketed.py`): orders and lineitem are written ONCE
    bucketed+sorted on the order key, after which the join runs with
    ZERO shuffle exchanges — the scan partitioning satisfies the
    join's distribution requirement. This is the layout a nightly
    100 TB orders⋈lineitem pipeline uses to amortize its biggest
    shuffle into the ingest write. The function self-certifies: it
    raises if the planned join is not shuffle-free (the merge hint
    pins SortMergeJoin so a small-SF broadcast can't mask a lost
    bucketing). The oracle joins the original parquet — identical
    results prove the bucketed write/read round trip is lossless."""
    from blackroad_feature_store_spark.sources.bucketed import (
        is_shuffle_free_join,
        read_bucketed,
        write_bucketed,
    )

    base = _scratch("bucketed_")
    orders = load(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    lineitem = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    write_bucketed(
        orders, "bj_orders", base + "/orders", ["o_orderkey"], 8
    )
    write_bucketed(
        lineitem, "bj_lineitem", base + "/lineitem", ["l_orderkey"], 8
    )
    bo = read_bucketed(spark, "bj_orders")
    bl = read_bucketed(spark, "bj_lineitem")
    joined = bo.hint("merge").join(bl, bo.o_orderkey == bl.l_orderkey)
    if not is_shuffle_free_join(joined):
        raise AssertionError(
            "bucketed orders ⋈ lineitem planned a shuffle exchange"
        )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@q(
    "text_bigram_logprob",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(
                   regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),
                   x -> x <> '') AS t
        FROM documents),
    sized AS (SELECT doc_id, t, len(t) AS nt FROM toks),
    bi AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
           FROM sized, UNNEST(range(1, nt)) AS u(i)
           WHERE nt >= 2),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
    v AS (SELECT count(*) AS v FROM c1),
    scored AS (
        SELECT b.doc_id,
               CAST(round(ln((c12.c12 + 1)
                             / CAST(c1.c1 + v.v AS DOUBLE)), 4)
                    AS DECIMAL(18,4)) AS lp
        FROM bi b JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        CROSS JOIN v),
    per AS (SELECT doc_id, count(*) AS n_bigrams,
                   round(CAST(sum(lp) AS DOUBLE) / count(*), 6)
                       AS avg_logprob
            FROM scored GROUP BY 1)
    SELECT s.doc_id, COALESCE(p.n_bigrams, 0) AS n_bigrams,
           p.avg_logprob
    FROM sized s LEFT JOIN per p USING (doc_id)
    """,
)
def text_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Perplexity-proxy quality scoring
    (`operators/corpus.py::bigram_logprob` — the CCNet-style LM
    filter): corpus-trained add-one bigram model, per-document mean
    log-probability. Each bigram's log-prob is rounded BEFORE the
    decimal per-doc accumulation, so the only cross-engine float op is
    a single ln per distinct bigram — partial-agg order can't move
    the hash."""
    from blackroad_feature_store_spark.operators.corpus import (
        bigram_logprob,
    )

    docs = load(spark, sf, "documents").select("doc_id", "text")
    return bigram_logprob(docs)


@q(
    "pipeline_blocklist",
    """
    WITH bl(term) AS (VALUES ('slow'), ('broken'), ('nosuchterm')),
    toks AS (
        SELECT doc_id,
               unnest(list_distinct(list_filter(string_split(
                   regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),
                   x -> x <> ''))) AS term
        FROM documents),
    hits AS (
        SELECT t.doc_id, count(*) AS n_blocked_terms
        FROM toks t JOIN bl USING (term)
        GROUP BY t.doc_id)
    SELECT d.doc_id, d.source,
           COALESCE(h.n_blocked_terms > 0, FALSE) AS blocked,
           COALESCE(h.n_blocked_terms, 0) AS n_blocked_terms
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
)
def pipeline_blocklist(spark: SparkSession, sf: str) -> DataFrame:
    """Token blocklist filter
    (`operators/corpus.py::blocklist_filter` — C4-badwords-style
    keyword stage): whole-token matching (no substring false
    positives), blocklist broadcast so the corpus scans once with no
    shuffle. The demo list includes a term absent from the corpus —
    the output must show it contributing nothing."""
    from blackroad_feature_store_spark.operators.corpus import (
        blocklist_filter,
    )

    docs = load(spark, sf, "documents").select("doc_id", "source", "text")
    bl = spark.createDataFrame(
        [("slow",), ("broken",), ("nosuchterm",)], ["term"]
    )
    out = blocklist_filter(docs, bl)
    return out.select("doc_id", "source", "blocked", "n_blocked_terms")


@q(
    "text_bm25_search",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(
                   regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),
                   x -> x <> '') AS t
        FROM documents),
    base AS (SELECT doc_id, t, len(t) AS dl FROM toks),
    g AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*)
              AS avgdl FROM base),
    terms AS (SELECT doc_id, dl, unnest(t) AS term FROM base),
    qt AS (SELECT term, dl, doc_id FROM terms
           WHERE term IN ('slow', 'join', 'memory')),
    tf AS (SELECT doc_id, dl, term, count(*) AS tf
           FROM qt GROUP BY 1, 2, 3),
    dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
    scored AS (
        SELECT tf.doc_id,
               CAST(round(
                   round(ln(1 + (g.n - dfq.dfc + 0.5) / (dfq.dfc + 0.5)),
                         6)
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (1 - 0.75
                                     + 0.75 * tf.dl / g.avgdl)),
                   6) AS DECIMAL(18,6)) AS c
        FROM tf JOIN dfq USING (term) CROSS JOIN g),
    agg AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS score,
                   count(*) AS n_hit_terms
            FROM scored GROUP BY 1)
    SELECT doc_id, score, n_hit_terms FROM agg
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def text_bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 ranked search
    (`operators/corpus.py::bm25_search`): the two classic counting
    aggregations (tf per doc×term, df per term) restricted to the
    broadcast query terms, idf quantized at 6dp (the libm-ln
    discipline), per-term contributions accumulated in exact DECIMAL,
    deterministic top-10. Query: 'slow join memory' over the
    documents corpus."""
    from blackroad_feature_store_spark.operators.corpus import bm25_search

    docs = load(spark, sf, "documents").select("doc_id", "text")
    return bm25_search(docs, "slow join memory", k=10)


@q(
    "pipeline_weighted_sample",
    """
    WITH u AS (
        SELECT doc_id, n_chars,
               (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
                                    1, 8) AS BIGINT) + 1.0)
               / 4294967297.0 AS uu
        FROM documents)
    SELECT doc_id, n_chars FROM u
    ORDER BY round(pow(uu, 1.0 / n_chars), 12) DESC, doc_id
    LIMIT 50
    """,
)
def pipeline_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (`operators/corpus.py::weighted_sample` — Efraimidis–Spirakis with
    md5-derived uniforms): a length-proportional 50-document draw
    (weight = n_chars, the token-budget-proportional sample). Same
    data + seed ⇒ same sample on any engine or partitioning; the
    oracle replays key construction exactly (keys quantized at 12dp
    with an id tiebreak, so a last-ulp pow() cannot move the top-k
    boundary). Membership is compared, not the keys themselves."""
    from blackroad_feature_store_spark.operators.corpus import (
        weighted_sample,
    )

    docs = load(spark, sf, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, "n_chars", k=50).select(
        "doc_id", "n_chars"
    )


@q(
    "pipeline_dsir_select",
    """
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split(
                   regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),
                   x -> x <> '') AS t
        FROM documents),
    sized AS (SELECT doc_id, lang, t, len(t) AS nt FROM toks),
    bi AS (SELECT doc_id, lang, t[i] AS w1, t[i + 1] AS w2
           FROM sized, UNNEST(range(1, nt)) AS u(i) WHERE nt >= 2),
    s12 AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2),
    s1 AS (SELECT w1, count(*) AS c FROM bi GROUP BY 1),
    sv AS (SELECT count(*) AS v FROM s1),
    tbi AS (SELECT * FROM bi WHERE lang = 'en'),
    t12 AS (SELECT w1, w2, count(*) AS c FROM tbi GROUP BY 1, 2),
    t1 AS (SELECT w1, count(*) AS c FROM tbi GROUP BY 1),
    tv AS (SELECT count(*) AS v FROM t1),
    scored AS (
        SELECT b.doc_id,
               CAST(round(ln((COALESCE(t12.c, 0) + 1)
                             / CAST(COALESCE(t1.c, 0) + tv.v AS DOUBLE)),
                          4) AS DECIMAL(18,4)) AS lpt,
               CAST(round(ln((s12.c + 1)
                             / CAST(s1.c + sv.v AS DOUBLE)),
                          4) AS DECIMAL(18,4)) AS lps
        FROM bi b
        LEFT JOIN t12 ON b.w1 = t12.w1 AND b.w2 = t12.w2
        LEFT JOIN t1 ON b.w1 = t1.w1
        JOIN s12 ON b.w1 = s12.w1 AND b.w2 = s12.w2
        JOIN s1 ON b.w1 = s1.w1
        CROSS JOIN tv CROSS JOIN sv),
    w AS (SELECT doc_id, count(*) AS n_bigrams,
                 round(CAST(sum(lpt) AS DOUBLE) / count(*)
                       - CAST(sum(lps) AS DOUBLE) / count(*), 6)
                     AS weight
          FROM scored GROUP BY 1)
    SELECT doc_id, n_bigrams, weight FROM w
    ORDER BY weight DESC, doc_id LIMIT 50
    """,
)
def pipeline_dsir_select(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style data selection
    (`operators/corpus.py::dsir_select` — Xie et al. 2023): rank the
    corpus by mean bigram log-likelihood ratio between an
    English-target model and the corpus model, keep the deterministic
    top-50. The smoke contract is visible in the result itself: the
    selected ids should be overwhelmingly the target language's
    documents. Spark's top-k lowers to distributed TakeOrdered (no
    global sort); the oracle replays both add-one models and the
    ratio exactly."""
    from blackroad_feature_store_spark.operators.corpus import dsir_select

    docs = load(spark, sf, "documents").select("doc_id", "text", "lang")
    target = docs.where(F.col("lang") == "en").select("doc_id", "text")
    return dsir_select(docs.select("doc_id", "text"), target, k=50)


@q(
    "pipeline_nb_source_classify",
    """
    WITH tok AS (
        SELECT doc_id, source,
               unnest(list_filter(string_split(
                   regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),
                   x -> x <> '')) AS w
        FROM documents),
    cw AS (SELECT source AS cls, w, count(*) AS cw FROM tok GROUP BY 1, 2),
    ct AS (SELECT source AS cls, count(*) AS ct FROM tok GROUP BY 1),
    v AS (SELECT count(DISTINCT w) AS v FROM tok),
    dc AS (SELECT source AS cls, count(*) AS dc FROM documents GROUP BY 1),
    dt AS (SELECT count(*) AS dt FROM documents),
    classes AS (
        SELECT ct.cls,
               CAST(round(ln(dc.dc / CAST(dt.dt AS DOUBLE)), 4)
                    AS DECIMAL(18,4)) AS prior,
               CAST(round(ln(1.0 / CAST(ct.ct + v.v AS DOUBLE)), 4)
                    AS DECIMAL(18,4)) AS floor_w
        FROM ct JOIN dc ON ct.cls = dc.cls CROSS JOIN v CROSS JOIN dt),
    weights AS (
        SELECT cw.cls, cw.w,
               CAST(round(ln((cw.cw + 1)
                             / CAST(ct.ct + v.v AS DOUBLE)), 4)
                    AS DECIMAL(18,4)) AS lw
        FROM cw JOIN ct ON cw.cls = ct.cls CROSS JOIN v),
    toksum AS (
        SELECT t.doc_id, c.cls,
               sum(COALESCE(weights.lw, c.floor_w)) AS tok_sum,
               count(*) AS n_tok
        FROM tok t CROSS JOIN classes c
        LEFT JOIN weights ON weights.w = t.w AND weights.cls = c.cls
        GROUP BY 1, 2),
    scored AS (
        SELECT d.doc_id, c.cls,
               c.prior + COALESCE(ts.tok_sum,
                                  CAST(0 AS DECIMAL(18,4))) AS score,
               COALESCE(ts.n_tok, 0) AS n_tok
        FROM documents d CROSS JOIN classes c
        LEFT JOIN toksum ts
          ON ts.doc_id = d.doc_id AND ts.cls = c.cls),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cls ASC) AS rn,
               lead(score) OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, cls ASC) AS second
        FROM scored)
    SELECT r.doc_id, r.cls AS pred_label,
           CAST(r.score AS DOUBLE) AS score_top,
           round(CAST(r.score - r.second AS DOUBLE), 6) AS margin,
           CAST(r.n_tok AS BIGINT) AS n_tokens,
           (r.cls = d.source) AS is_correct
    FROM ranked r JOIN documents d USING (doc_id)
    WHERE r.rn = 1
    """,
)
def pipeline_nb_source_classify(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based corpus filtering (`operators/corpus.py::nb_classify`
    — the fastText/CCNet classifier stage, re-expressed as multinomial
    Naive Bayes so train-and-score is two count aggregations and stays
    oracle-certifiable): self-train on ``documents`` with ``source``
    as the label, score every document, and report the predicted
    source, exact-decimal score, runner-up margin, and whether the
    prediction recovered the true source. Every log weight is
    quantized at 4dp before DECIMAL accumulation, so the argmax and
    margin replay bit-for-bit in the oracle. r11: train == score here,
    so the shared-scan `nb_classify_self` tokenizes the corpus once
    (same scores, one scan cheaper)."""
    from blackroad_feature_store_spark.operators.corpus import (
        nb_classify_self,
    )

    docs = spread(
        load(spark, sf, "documents").select("doc_id", "text", "source"),
        "doc_id",
    )
    pred = nb_classify_self(
        docs.withColumn("label", F.col("source")), F.lit(True)
    )
    return pred.join(docs.select("doc_id", "source"), "doc_id").select(
        "doc_id",
        "pred_label",
        "score_top",
        "margin",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.col("pred_label") == F.col("source")).alias("is_correct"),
    )


@q(
    "pipeline_span_removal",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') AS t
        FROM documents),
    sized AS (SELECT doc_id, t, len(t) AS nt FROM toks),
    grams AS (
        SELECT doc_id, i AS start, i + 4 AS fin,
               array_to_string(
                   list_transform(list_slice(t, i, i + 4),
                                  x -> lower(x)), ' ') AS gram
        FROM sized, UNNEST(range(1, nt - 3)) AS u(i)
        WHERE nt >= 5),
    marked AS (
        SELECT doc_id, start, fin,
               count(*) OVER (PARTITION BY gram) >= 2 AS dup,
               row_number() OVER (PARTITION BY gram
                                  ORDER BY doc_id, start) = 1 AS keeper
        FROM grams),
    keepcov AS (
        SELECT DISTINCT doc_id, p
        FROM marked, UNNEST(range(start, fin + 1)) AS v(p)
        WHERE dup AND keeper),
    dropp AS (
        SELECT nk.doc_id, nk.p
        FROM (SELECT DISTINCT doc_id, p
              FROM marked, UNNEST(range(start, fin + 1)) AS v(p)
              WHERE dup AND NOT keeper) nk
        ANTI JOIN keepcov kc
          ON nk.doc_id = kc.doc_id AND nk.p = kc.p),
    tokrows AS (
        SELECT doc_id, u.p, t[u.p] AS tok
        FROM sized, UNNEST(range(1, nt + 1)) AS u(p)),
    kept AS (
        SELECT k.doc_id, k.p, k.tok FROM tokrows k
        ANTI JOIN dropp d ON k.doc_id = d.doc_id AND k.p = d.p),
    reb AS (
        SELECT doc_id, count(*) AS kept_n,
               string_agg(tok, ' ' ORDER BY p) AS text
        FROM kept GROUP BY doc_id)
    SELECT s.doc_id, md5(COALESCE(r.text, '')) AS text_md5,
           s.nt AS n_tokens,
           s.nt - COALESCE(r.kept_n, 0) AS n_removed
    FROM sized s LEFT JOIN reb r USING (doc_id)
    """,
)
def pipeline_span_removal(spark: SparkSession, sf: str) -> DataFrame:
    """The rewrite half of span dedup
    (`operators/corpus.py::remove_duplicated_spans` — Lee et al. 2021
    remove-all-but-one): every duplicated 5-gram keeps its first
    (doc, position) occurrence, covered tokens elsewhere are deleted,
    documents reassembled in token order. The oracle replays keeper
    selection and reassembly exactly; text is md5-pinned so the full
    rewritten corpus round-trips through the value hash."""
    from blackroad_feature_store_spark.operators.corpus import (
        remove_duplicated_spans,
    )

    docs = load(spark, sf, "documents").select("doc_id", "text")
    out = remove_duplicated_spans(docs, n=5)
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "n_tokens",
        "n_removed",
    )


@q(
    "dedup_exact_substr",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') AS t
        FROM documents),
    sized AS (SELECT doc_id, t, len(t) AS nt FROM toks),
    grams AS (
        SELECT doc_id, i AS start, i + 29 AS fin,
               array_to_string(list_slice(t, i, i + 29), ' ') AS gram
        FROM sized, UNNEST(range(1, nt - 28)) AS u(i)
        WHERE nt >= 30),
    dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
    dwin AS (SELECT g.doc_id, g.start, g.fin
             FROM grams g JOIN dup USING (gram)),
    cov AS (SELECT DISTINCT doc_id, p
            FROM dwin, UNNEST(range(start, fin + 1)) AS v(p)),
    runs AS (SELECT doc_id, p,
                    p - row_number() OVER (PARTITION BY doc_id
                                           ORDER BY p) AS grp
             FROM cov)
    SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
           CAST(max(p) AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS span_tokens
    FROM runs GROUP BY doc_id, grp
    """,
)
def dedup_exact_substr(spark: SparkSession, sf: str) -> DataFrame:
    """ExactSubstr detect (`operators/exactsubstr.py::
    exact_substr_spans` — Lee et al. 2021 §4.1, threshold L=30):
    every maximal token span whose every position sits inside a
    30-token window occurring verbatim >= 2 times corpus-wide
    (self-repeats count). The Spark side indexes stride-1 window
    HASHES (16-byte shuffle rows at any L), verifies candidate
    buckets on the exact window string, and merges intervals with a
    gaps-and-islands pass; the oracle is an INDEPENDENT formulation —
    group-by the window string directly, explode covered positions,
    and read maximal spans as consecutive-position runs (the
    pos - row_number trick). Same semantics, different algorithm on
    both the duplicate test AND the merge, so agreement certifies
    the operator rather than replaying it."""
    from blackroad_feature_store_spark.operators.exactsubstr import (
        exact_substr_spans,
    )

    docs = load(spark, sf, "documents").select("doc_id", "text")
    out = exact_substr_spans(docs, L=30)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "span_tokens",
    )


# same plain-string oracle as dedup_exact_substr: the PRUNED index must
# answer the span query identically, so the twins share one truth
_SQL_XS_SPANS = ORACLE["dedup_exact_substr"]


@q("dedup_exact_substr_pruned", _SQL_XS_SPANS)
def dedup_exact_substr_pruned(spark: SparkSession, sf: str) -> DataFrame:
    """ExactSubstr detect from the SINGLETON-PRUNED index tier
    (VERDICT r14 ask #5: `operators/exactsubstr.py::
    exact_substr_dup_tier` — only rows with ``n >= min_count``
    persist). Natural text is hapax-dominated, so the pruned tier is
    a small fraction of the full maintained index (measured by
    ``tools/probe_scale.py --exactsubstr-footprint``); it is EXACT
    for retrospective span/detect queries over a corpus the index
    covers, because `exact_substr_spans_from_index`'s candidate
    filter consumes nothing below ``min_count`` — and it is NOT valid
    as cross-batch ingest history (a pruned singleton could no longer
    witness a first repeat arriving later; that path keeps the
    keeperless rewrite tier instead). The oracle is the same
    independent plain-string formulation as `dedup_exact_substr`, so
    pruned == full == string-truth, certified end-to-end."""
    from blackroad_feature_store_spark.operators.exactsubstr import (
        exact_substr_dup_tier,
        exact_substr_index,
        exact_substr_spans_from_index,
    )

    docs = load(spark, sf, "documents").select("doc_id", "text")
    pruned = exact_substr_dup_tier(
        exact_substr_index(docs, L=30), min_count=2
    )
    return exact_substr_spans_from_index(docs, pruned, L=30).select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "span_tokens",
    )


@q(
    "pipeline_exact_substr_removal",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') AS t
        FROM documents),
    sized AS (SELECT doc_id, t, len(t) AS nt FROM toks),
    grams AS (
        SELECT doc_id, i AS start, i + 29 AS fin,
               array_to_string(list_slice(t, i, i + 29), ' ') AS gram
        FROM sized, UNNEST(range(1, nt - 28)) AS u(i)
        WHERE nt >= 30),
    marked AS (
        SELECT doc_id, start, fin,
               count(*) OVER (PARTITION BY gram) >= 2 AS dup,
               row_number() OVER (PARTITION BY gram
                                  ORDER BY doc_id, start) = 1 AS keeper
        FROM grams),
    keepcov AS (
        SELECT DISTINCT doc_id, p
        FROM marked, UNNEST(range(start, fin + 1)) AS v(p)
        WHERE dup AND keeper),
    dropp AS (
        SELECT nk.doc_id, nk.p
        FROM (SELECT DISTINCT doc_id, p
              FROM marked, UNNEST(range(start, fin + 1)) AS v(p)
              WHERE dup AND NOT keeper) nk
        ANTI JOIN keepcov kc
          ON nk.doc_id = kc.doc_id AND nk.p = kc.p),
    tokrows AS (
        SELECT doc_id, u.p, t[u.p] AS tok
        FROM sized, UNNEST(range(1, nt + 1)) AS u(p)),
    kept AS (
        SELECT k.doc_id, k.p, k.tok FROM tokrows k
        ANTI JOIN dropp d ON k.doc_id = d.doc_id AND k.p = d.p),
    reb AS (
        SELECT doc_id, count(*) AS kept_n,
               string_agg(tok, ' ' ORDER BY p) AS text
        FROM kept GROUP BY doc_id)
    SELECT s.doc_id, md5(COALESCE(r.text, '')) AS text_md5,
           s.nt AS n_tokens,
           CAST(s.nt - COALESCE(r.kept_n, 0) AS BIGINT) AS n_removed
    FROM sized s LEFT JOIN reb r USING (doc_id)
    """,
)
def pipeline_exact_substr_removal(spark: SparkSession, sf: str) -> DataFrame:
    """The ExactSubstr rewrite (`operators/exactsubstr.py::
    exact_substr_removal` — remove all but one occurrence at L=30):
    every duplicated 30-token window keeps its first (doc, position)
    occurrence, tokens covered exclusively by non-keeper duplicated
    windows are deleted, documents reassembled in token order. The
    oracle replays keeper selection and reassembly on the window
    STRINGS (no hash index — so the Spark side's hash-bucket +
    collision-verification path is certified against plain string
    semantics); text is md5-pinned so the full rewritten corpus
    round-trips through the value hash."""
    from blackroad_feature_store_spark.operators.exactsubstr import (
        exact_substr_removal,
    )

    docs = load(spark, sf, "documents").select("doc_id", "text")
    out = exact_substr_removal(docs, L=30)
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "n_tokens",
        "n_removed",
    )


@q(
    "stream_exec_exact_substr_index",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') AS t
        FROM documents),
    sized AS (SELECT doc_id, t, len(t) AS nt FROM toks),
    grams AS (
        SELECT doc_id, i AS start, i + 29 AS fin,
               array_to_string(list_slice(t, i, i + 29), ' ') AS gram
        FROM sized, UNNEST(range(1, nt - 28)) AS u(i)
        WHERE nt >= 30),
    dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
    dwin AS (SELECT g.doc_id, g.start, g.fin
             FROM grams g JOIN dup USING (gram)),
    cov AS (SELECT DISTINCT doc_id, p
            FROM dwin, UNNEST(range(start, fin + 1)) AS v(p)),
    runs AS (SELECT doc_id, p,
                    p - row_number() OVER (PARTITION BY doc_id
                                           ORDER BY p) AS grp
             FROM cov)
    SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
           CAST(max(p) AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS span_tokens
    FROM runs GROUP BY doc_id, grp
    """,
)
def stream_exec_exact_substr_index(
    spark: SparkSession, sf: str
) -> DataFrame:
    """Incremental ExactSubstr END-TO-END (VERDICT r12 ask #5 — the
    exact tier's maintain-at-ingest story, mirroring
    `dedup_incremental` and `stream_exec_ivf_maintained`): documents
    arrive in REAL micro-batches; each batch's stride-1 window-hash
    index (`operators/exactsubstr.py::exact_substr_index` — counts +
    keeper witness, ~16 bytes/position at any L) lands as a per-batch
    partial; the partials FOLD additively
    (`fold_exact_substr_index`; fold == from-scratch rebuild is
    pytest-pinned by `test_index_fold_equals_recompute`, the
    hypothesis suite, and `tools/soak_fuzz.py` — the per-run
    rebuild certificate was trimmed in r14, VERDICT ask #5); and
    detection is answered FROM the maintained index
    (`exact_substr_spans_from_index` — the corpus-wide hash exchange
    is skipped; bucketed string verification still decides). The
    oracle is `dedup_exact_substr`'s INDEPENDENT plain-string
    formulation (group-by the window string, positional runs) with no
    hash index and no batching — certifying the whole maintained
    path against one-shot string semantics."""
    from blackroad_feature_store_spark.operators.exactsubstr import (
        exact_substr_index,
        exact_substr_spans_from_index,
        fold_exact_substr_index,
    )

    docs = load(spark, sf, "documents").select("doc_id", "text")
    base = _scratch("stream_xsidx_")
    store = f"{base}/idx"
    # two REAL micro-batches (each document arrives whole in one); a
    # crashed-batch replay overwrites its own partial instead of
    # double-counting
    _drain_foreach(
        _split_source(docs, base, "doc_id"),
        lambda batch_df, batch_id: write_batch_partition(
            exact_substr_index(batch_df, L=30), batch_id, store
        ),
        base,
    )

    parts = sorted(glob.glob(f"{store}/batch_id=*"))
    if len(parts) < 2:  # not a bare assert: must survive python -O
        raise AssertionError("expected >= 2 real micro-batches")
    maintained = spark.read.parquet(parts[0])
    for p in parts[1:]:
        maintained = fold_exact_substr_index(
            maintained, spark.read.parquet(p)
        )
    # (no localCheckpoint: since the r14 certificate trim the folded
    # index has exactly ONE consumer — spans_from_index — so eager
    # materialization would only add a pass)
    # fold == from-scratch-rebuild is pytest-pinned
    # (test_exactsubstr.py::test_index_fold_equals_recompute,
    # test_exactsubstr_property.py, tools/soak_fuzz.py), so the query
    # no longer re-proves it per run with a full-corpus rebuild +
    # double exceptAll (VERDICT r13 ask #5 — trim certificate jobs a
    # pytest already pins); the oracle comparison below still
    # certifies the OUTPUT of the maintained path end-to-end.
    return exact_substr_spans_from_index(docs, maintained, L=30).select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "span_tokens",
    )


def _sql_removal_scoped(corpus_where: str, out_where: str) -> str:
    """`pipeline_exact_substr_removal`'s plain-string oracle, scoped:
    duplication/keepers decided over ``corpus_where`` documents, rows
    emitted for ``out_where`` documents — the building block for the
    moment-of-ingest oracle (each batch's verdict is the one-shot
    removal over exactly the documents ingested by then)."""
    return f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') AS t
        FROM documents WHERE {corpus_where}),
    sized AS (SELECT doc_id, t, len(t) AS nt FROM toks),
    grams AS (
        SELECT doc_id, i AS start, i + 29 AS fin,
               array_to_string(list_slice(t, i, i + 29), ' ') AS gram
        FROM sized, UNNEST(range(1, nt - 28)) AS u(i)
        WHERE nt >= 30),
    marked AS (
        SELECT doc_id, start, fin,
               count(*) OVER (PARTITION BY gram) >= 2 AS dup,
               row_number() OVER (PARTITION BY gram
                                  ORDER BY doc_id, start) = 1 AS keeper
        FROM grams),
    keepcov AS (
        SELECT DISTINCT doc_id, p
        FROM marked, UNNEST(range(start, fin + 1)) AS v(p)
        WHERE dup AND keeper),
    dropp AS (
        SELECT nk.doc_id, nk.p
        FROM (SELECT DISTINCT doc_id, p
              FROM marked, UNNEST(range(start, fin + 1)) AS v(p)
              WHERE dup AND NOT keeper) nk
        ANTI JOIN keepcov kc
          ON nk.doc_id = kc.doc_id AND nk.p = kc.p),
    tokrows AS (
        SELECT doc_id, u.p, t[u.p] AS tok
        FROM sized, UNNEST(range(1, nt + 1)) AS u(p)),
    kept AS (
        SELECT k.doc_id, k.p, k.tok FROM tokrows k
        ANTI JOIN dropp d ON k.doc_id = d.doc_id AND k.p = d.p),
    reb AS (
        SELECT doc_id, count(*) AS kept_n,
               string_agg(tok, ' ' ORDER BY p) AS text
        FROM kept GROUP BY doc_id)
    SELECT s.doc_id, md5(COALESCE(r.text, '')) AS text_md5,
           s.nt AS n_tokens,
           CAST(s.nt - COALESCE(r.kept_n, 0) AS BIGINT) AS n_removed
    FROM sized s LEFT JOIN reb r USING (doc_id)
    WHERE {out_where}
    """


# the two-batch split point both engines share: lower-id half arrives
# first (monotone-id arrival contract of the ingest rewrite)
_SQL_DOC_MID = "(SELECT (max(doc_id) + 1) // 2 FROM documents)"


@q(
    "stream_exec_exact_substr_rewrite",
    f"""
    SELECT * FROM ({_sql_removal_scoped(f"doc_id < {_SQL_DOC_MID}", "1=1")})
    UNION ALL
    SELECT * FROM ({_sql_removal_scoped("1=1", f"s.doc_id >= {_SQL_DOC_MID}")})
    """,
)
def stream_exec_exact_substr_rewrite(
    spark: SparkSession, sf: str
) -> DataFrame:
    """ExactSubstr removal AT INGEST (`operators/exactsubstr.py::
    exact_substr_batch_rewrite` — the removal tier of the
    maintain-at-ingest story): documents arrive in REAL micro-batches
    in id order (lower-id half first — the monotone-arrival
    contract); each batch is rewritten against ALL history using only
    the maintained (hash-pair → count, keeper) index — history text
    is never re-read — and its delta index folds into the store for
    the next batch. Moment-of-ingest semantics: each batch's output
    equals the one-shot `exact_substr_removal` over exactly the
    documents ingested by then (a later duplicate can neither remove
    nor protect already-emitted text), which is what the oracle
    replays — batch 1 scoped to the first half, batch 2 over the
    full corpus restricted to the second half, both in plain string
    semantics with no hash index and no batching machinery.
    Fold == from-scratch-rebuild is pytest-pinned
    (`test_index_fold_equals_recompute`, `tests/test_exactsubstr_
    ingest.py`, `tools/soak_fuzz.py`), not re-proven per run
    (VERDICT r13 ask #5)."""
    from blackroad_feature_store_spark.streaming.ingest import (
        exact_substr_ingest_batch,
    )

    docs = load(spark, sf, "documents").select("doc_id", "text")
    mid = (int(docs.agg(F.max("doc_id")).first()[0]) + 1) // 2
    base = _scratch("stream_xsrw_")
    # id order = arrival order: one file per half with strictly
    # increasing mtimes (FileStreamSource breaks mtime TIES
    # arbitrarily — ADVICE r13 low; the in-batch monotone assert
    # below fails loudly if order still flips).
    stream = _split_source(docs, base, "doc_id", bounds=[mid])
    idx_store = f"{base}/idx"
    out_store = f"{base}/out"

    # replay-safe + monotone-arrival-checked foreachBatch step
    # (streaming/ingest.py::exact_substr_ingest_batch): history folds
    # ONLY partials with batch id < this batch (a crash-after-write
    # replay must not see its own delta as history — counts would
    # double and batch-unique windows would drop with no keeper), and
    # a batch whose min id <= max history keeper id raises instead of
    # silently certifying a diverged rewrite.
    _drain_foreach(
        stream,
        lambda batch_df, batch_id: exact_substr_ingest_batch(
            batch_df, batch_id, idx_store, out_store, L=30
        ),
        base,
    )

    parts = sorted(glob.glob(f"{idx_store}/batch_id=*"))
    if len(parts) < 2:  # not a bare assert: must survive python -O
        raise AssertionError("expected >= 2 real micro-batches")
    # fold == from-scratch-rebuild is pytest-pinned
    # (test_index_fold_equals_recompute, tests/test_exactsubstr_ingest
    # .py, tools/soak_fuzz.py's per-case ingest replay), so the query
    # no longer re-proves it with a full rebuild + double exceptAll
    # per run (VERDICT r13 ask #5); the two-scope oracle below still
    # certifies each batch's rewritten OUTPUT end-to-end.
    return spark.read.parquet(out_store).select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "n_tokens",
        "n_removed",
    )


# quartile boundaries both engines compute identically from max(doc_id)
_SQL_DOC_Q1 = "(SELECT (max(doc_id) + 1) // 4 FROM documents)"
_SQL_DOC_Q3 = "(SELECT (3 * (max(doc_id) + 1)) // 4 FROM documents)"

# moment-of-ingest over four quartile batches: batch k's verdict is the
# one-shot removal over everything ingested by then, emitted for batch
# k's documents only (built outside the decorator — nested multi-line
# f-string expressions need 3.12, CI runs 3.11)
_SQL_XS_COMPACTED = " UNION ALL ".join(
    f"SELECT * FROM ({_sql_removal_scoped(corpus, out)})"
    for corpus, out in [
        (f"doc_id < {_SQL_DOC_Q1}", "1=1"),
        (f"doc_id < {_SQL_DOC_MID}", f"s.doc_id >= {_SQL_DOC_Q1}"),
        (f"doc_id < {_SQL_DOC_Q3}", f"s.doc_id >= {_SQL_DOC_MID}"),
        ("1=1", f"s.doc_id >= {_SQL_DOC_Q3}"),
    ]
)


@q("stream_exec_exact_substr_compacted", _SQL_XS_COMPACTED)
def stream_exec_exact_substr_compacted(
    spark: SparkSession, sf: str
) -> DataFrame:
    """ExactSubstr removal at ingest WITH store compaction and the
    keeperless rewrite tier (VERDICT r14 ask #5 — the 100 TB
    footprint/fold-cost path): four real micro-batches arrive in id
    order (quartiles of doc_id); every second batch folds all
    committed partials into ONE ``compacted/floor=K`` snapshot
    holding only ``(__h, __h2, n)`` — the keeper witness dropped
    (monotone arrival fixes keepers in history; the rewrite consumes
    counts only) and singletons RETAINED (a history singleton
    witnesses a duplicate the moment a second occurrence arrives) —
    so batch 2 rewrites against the snapshot alone and batch 3
    against snapshot + one partial: the per-ingest fold is O(1 +
    recent), not O(batches ever). Moment-of-ingest semantics are
    unchanged, which is exactly what the oracle replays: four scoped
    one-shot removals in plain string semantics, no hash index, no
    batching, no compaction machinery. Crash-replay through a
    compaction and the fold==recompute invariants are pytest-pinned
    (tests/test_exactsubstr_ingest.py)."""
    from blackroad_feature_store_spark.streaming.ingest import (
        _index_store,
        exact_substr_ingest_batch,
    )

    docs = load(spark, sf, "documents").select("doc_id", "text")
    hi = int(docs.agg(F.max("doc_id")).first()[0]) + 1
    bounds = [hi // 4, hi // 2, (3 * hi) // 4]
    base = _scratch("stream_xscmp_")
    idx_store = f"{base}/idx"
    out_store = f"{base}/out"
    # id order = arrival order: one file per quartile, mtimes forced
    # strictly increasing so FileStreamSource cannot flip batches
    # (ADVICE r13 low; the in-batch monotone gate still backstops).
    _drain_foreach(
        _split_source(docs, base, "doc_id", bounds=bounds),
        lambda batch_df, batch_id: exact_substr_ingest_batch(
            batch_df,
            batch_id,
            idx_store,
            out_store,
            L=30,
            compact_every=2,
            compact_witness=False,
        ),
        base,
    )

    # compaction engaged mid-stream: snapshot floor >= 1 and the
    # folded-away partials are retired — this certifies the query
    # exercised the compacted path, not the plain one
    # Explicit raises, not bare asserts: this certification must
    # survive `python -O` (ADVICE r15 — asserts compile out under
    # PYTHONOPTIMIZE and the query would silently pass even if
    # compaction never engaged).
    store = _index_store(spark, idx_store)
    if store.floor() < 1:
        raise AssertionError("compaction never ran")
    n_live = len(store.batch_ids())
    if n_live > 2:
        raise AssertionError(
            f"compaction did not retire folded partials: {n_live} "
            "live batch partials remain (expected <= 2)"
        )
    return spark.read.parquet(out_store).select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "n_tokens",
        "n_removed",
    )


_SQL_SOURCE_ROUNDTRIP = """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id
    FROM documents GROUP BY lang
"""


@q("source_jsonl_roundtrip", _SQL_SOURCE_ROUNDTRIP)
def source_jsonl_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Certifies the JSONL document source end-to-end: documents →
    written as JSONL → re-landed through
    ``sources/files.py::read_documents`` (Spark's JSON reader +
    canonical-shape normalization) → aggregated. The oracle aggregates
    the ORIGINAL parquet, so any lossy step in the write→read→
    normalize path (encoding, schema inference, column derivation)
    breaks the hash — this is the certification that a corpus landed
    from JSONL is bit-identical to one landed from parquet."""
    from blackroad_feature_store_spark.sources.files import read_documents

    docs = load(spark, sf, "documents")
    out_dir = _scratch("src_jsonl_") + "/docs"
    docs.write.mode("overwrite").json(out_dir)
    landed = read_documents(spark, out_dir, format="jsonl")
    return landed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@q("source_csv_roundtrip", _SQL_SOURCE_ROUNDTRIP)
def source_csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Same certification for the CSV source path (header inference,
    quoting/escaping, type coercion back from strings). n_chars is
    re-derived from the landed text rather than trusted from the CSV —
    proving the text column itself survived the round trip."""
    from blackroad_feature_store_spark.sources.files import read_documents

    docs = load(spark, sf, "documents")
    out_dir = _scratch("src_csv_") + "/docs"
    docs.write.mode("overwrite").option("header", "true").csv(out_dir)
    landed = read_documents(spark, out_dir, format="csv").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.length("text").alias("n_chars"),  # re-derived, not trusted
    )
    return landed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@q("source_orc_roundtrip", _SQL_SOURCE_ROUNDTRIP)
def source_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Same certification for the ORC source path (the other columnar
    format legacy Hive/Hadoop corpora arrive in — typed storage, so
    unlike CSV nothing is re-derived: the landed columns themselves
    must be bit-identical to the parquet originals)."""
    from blackroad_feature_store_spark.sources.files import (
        read_documents,
        write_documents,
    )

    docs = load(spark, sf, "documents")
    out_dir = _scratch("src_orc_") + "/docs"
    write_documents(docs, out_dir, format="orc")
    landed = read_documents(spark, out_dir, format="orc")
    return landed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@q(
    "pipeline_data_expectations",
    r"""
    SELECT 'not_null' AS "check", 'o_custkey' AS target,
           count(*) AS total,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS violations,
           sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0
             AS passed
    FROM orders
    UNION ALL
    SELECT 'in_range', 'o_totalprice', count(*),
           CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                          AND (o_totalprice < 0 OR o_totalprice > 300000)
                         THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN o_totalprice IS NOT NULL
                     AND (o_totalprice < 0 OR o_totalprice > 300000)
                    THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'accepted_values', 'o_orderstatus', count(*),
           CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('O', 'F')
                         THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN o_orderstatus IS NOT NULL
                     AND o_orderstatus NOT IN ('O', 'F')
                    THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'regex', 'o_orderpriority', count(*),
           CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
                          AND NOT regexp_matches(o_orderpriority,
                                                 '^[1-5]-[A-Z ]+$')
                         THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN o_orderpriority IS NOT NULL
                     AND NOT regexp_matches(o_orderpriority,
                                            '^[1-5]-[A-Z ]+$')
                    THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'unique', 'o_orderkey', CAST(sum(n) AS BIGINT),
           CAST(sum(n - 1) AS BIGINT), sum(n - 1) = 0
    FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
    UNION ALL
    SELECT 'unique', 'o_custkey', CAST(sum(n) AS BIGINT),
           CAST(sum(n - 1) AS BIGINT), sum(n - 1) = 0
    FROM (SELECT count(*) AS n FROM orders GROUP BY o_custkey)
    UNION ALL
    SELECT 'foreign_key', 'o_custkey',
           (SELECT count(*) FROM orders),
           CAST(count(*) AS BIGINT), count(*) = 0
    FROM orders
    WHERE o_custkey IS NOT NULL
      AND o_custkey NOT IN (SELECT c_custkey FROM customer
                            WHERE c_custkey % 3 = 0)
    """,
)
def pipeline_data_expectations(spark: SparkSession, sf: str) -> DataFrame:
    """Deequ-style declarative validation (operators/expectations.py):
    seven checks over TPC-H orders in THREE jobs total — all four
    row-local checks (not_null / in_range / regex / accepted_values)
    fold into ONE scan as conditional-sum aggregates, each unique
    check is one hash aggregation on its key, and the foreign-key
    check is one anti-join against a (deliberately filtered, so
    orphans exist) customer dimension. The suite intentionally mixes
    passing and failing checks: accepted_values omits status 'P',
    in_range caps o_totalprice at 300k, unique(o_custkey) fails by
    construction (customers repeat), and the FK ref keeps only every
    third customer — so violation COUNTING, not just pass flags, is
    oracle-certified."""
    from blackroad_feature_store_spark.operators.expectations import (
        check_expectations,
    )

    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer").where(
        F.col("c_custkey") % 3 == 0
    )
    return check_expectations(
        orders,
        [
            {"check": "not_null", "col": "o_custkey"},
            {"check": "in_range", "col": "o_totalprice",
             "min": 0.0, "max": 300000.0},
            {"check": "accepted_values", "col": "o_orderstatus",
             "values": ["O", "F"]},
            {"check": "regex", "col": "o_orderpriority",
             "pattern": "^[1-5]-[A-Z ]+$"},
            {"check": "unique", "cols": ["o_orderkey"]},
            {"check": "unique", "cols": ["o_custkey"]},
            {"check": "foreign_key", "col": "o_custkey",
             "ref": customer, "ref_col": "c_custkey"},
        ],
    )


@q("source_xml_roundtrip", _SQL_SOURCE_ROUNDTRIP)
def source_xml_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Same certification for the XML source path (Spark 4's built-in
    XML datasource, the former spark-xml package — one ``<doc>``
    element per document). Entity escaping/unescaping, schema
    inference from elements, and the canonical-shape normalization
    must all be lossless for the landed aggregate to hash-match the
    oracle over the ORIGINAL parquet. (XML's reader trims surrounding
    whitespace and lands empty elements as NULL — `sources/files.py`
    documents it as interchange, not byte-exact archive; this corpus
    round-trips exactly.)"""
    from blackroad_feature_store_spark.sources.files import (
        read_documents,
        write_documents,
    )

    docs = load(spark, sf, "documents")
    out_dir = _scratch("src_xml_") + "/docs"
    write_documents(docs, out_dir, format="xml")
    landed = read_documents(spark, out_dir, format="xml")
    return landed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@q(
    "source_text_roundtrip",
    """
    SELECT count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           count(DISTINCT text) AS n_distinct_texts
    FROM documents
    """,
)
def source_text_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Certifies the raw-text source mode (one document per line — the
    common one-example-per-line layout): documents → written as plain
    text lines → re-landed via ``read_documents(format="text")``,
    which derives doc_id from xxhash64(text) and n_chars from the
    landed text. The oracle aggregates the ORIGINAL corpus, so the
    counts/characters/distinct-text cardinality only match if every
    line survived byte-for-byte. (The testdata corpus is single-line
    per document; multi-line docs belong in JSONL/parquet.)"""
    from blackroad_feature_store_spark.sources.files import read_documents

    docs = load(spark, sf, "documents")
    out_dir = _scratch("src_text_") + "/docs"
    docs.select("text").write.mode("overwrite").text(out_dir)
    landed = read_documents(spark, out_dir, format="text")
    return landed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.countDistinct("text").alias("n_distinct_texts"),
    )


@q(
    "pipeline_paragraph_dedup",
    """
    WITH synth AS (
        SELECT a.doc_id, a.text || chr(10) || chr(10) || b.text AS text
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
    paras AS (
        SELECT doc_id,
               unnest(string_split(text, chr(10) || chr(10))) AS para,
               unnest(generate_series(
                   1, len(string_split(text, chr(10) || chr(10))))) AS pos
        FROM synth),
    kept AS (
        SELECT * FROM paras
        QUALIFY row_number() OVER (
            PARTITION BY para ORDER BY doc_id, pos) = 1),
    tot AS (SELECT doc_id, count(*) AS total_paras FROM paras GROUP BY 1)
    SELECT k.doc_id,
           md5(string_agg(k.para, chr(10) || chr(10) ORDER BY k.pos))
               AS text_md5,
           count(*) AS kept_paras,
           t.total_paras
    FROM kept k JOIN tot t USING (doc_id)
    GROUP BY k.doc_id, t.total_paras
    """,
)
def pipeline_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup with reassembly
    (`operators/corpus.py::paragraph_dedup`) — the C4/RefinedWeb
    boilerplate-stripping pass. The testdata documents are
    single-paragraph, so the query first builds overlapping two-
    paragraph docs (doc i ⧺ doc i+1) deterministically; every inner
    text then appears in two docs and exactly one copy survives, at its
    earliest (doc_id, position). The oracle re-derives the whole
    pipeline (split → global survivor window → ordered reassembly) and
    md5s the rebuilt text, so survivor choice, paragraph order, and
    byte-exact reassembly are all pinned."""
    docs = load(spark, sf, "documents").select("doc_id", "text")
    nxt = docs.select(
        F.col("doc_id").alias("__nid"), F.col("text").alias("__ntext")
    )
    synth = docs.join(nxt, F.col("__nid") == F.col("doc_id") + 1).select(
        "doc_id", F.concat_ws("\n\n", "text", "__ntext").alias("text")
    )
    out = paragraph_dedup(synth)
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "kept_paras",
        "total_paras",
    )


@q(
    "core_gapfill_locf",
    """
    WITH obs AS (
        SELECT user_id, date_trunc('hour', ts) AS bucket,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   AS bucket_value
        FROM events WHERE user_id < 30 GROUP BY 1, 2),
    rng AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
            FROM obs GROUP BY 1),
    grid AS (SELECT user_id,
                    unnest(generate_series(b0, b1, INTERVAL 1 HOUR))
                        AS bucket
             FROM rng),
    j AS (SELECT g.user_id, g.bucket, o.bucket_value
          FROM grid g LEFT JOIN obs o USING (user_id, bucket))
    SELECT user_id,
           strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
           round(bucket_value, 6) AS bucket_value,
           round(last_value(bucket_value IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS filled_value,
           CASE WHEN bucket_value IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM j
    """,
)
def core_gapfill_locf(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series regularization (`operators/asof.py::gapfill_locf`):
    hourly buckets per user over each user's own active span, missing
    hours synthesized and filled by last-observation-carried-forward —
    TimescaleDB's time_bucket_gapfill+locf / pandas resample().ffill()
    as distributed column algebra (sequence-explode grid per key, one
    window sort for the fill, DECIMAL-disciplined sums)."""
    from blackroad_feature_store_spark.operators.asof import gapfill_locf

    ev = load(spark, sf, "events").where(F.col("user_id") < 30)
    out = gapfill_locf(ev, ["user_id"], "ts", "value")
    return out.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        "bucket_value",
        "filled_value",
        "is_gap",
    )


@q(
    "core_gapfill_interp",
    """
    WITH obs AS (
        SELECT user_id, date_trunc('hour', ts) AS bucket,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   AS bucket_value
        FROM events WHERE user_id < 30 GROUP BY 1, 2),
    rng AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
            FROM obs GROUP BY 1),
    grid AS (SELECT user_id,
                    unnest(generate_series(b0, b1, INTERVAL 1 HOUR))
                        AS bucket
             FROM rng),
    j AS (SELECT g.user_id, g.bucket, o.bucket_value,
                 CAST(o.bucket_value AS DECIMAL(18,6)) AS bvd
          FROM grid g LEFT JOIN obs o USING (user_id, bucket)),
    w AS (
        SELECT user_id, bucket, bucket_value,
               last_value(CASE WHEN bucket_value IS NOT NULL
                               THEN CAST(epoch(bucket) AS BIGINT)
                          END IGNORE NULLS) OVER back AS t0,
               last_value(bvd IGNORE NULLS) OVER back AS v0,
               first_value(CASE WHEN bucket_value IS NOT NULL
                                THEN CAST(epoch(bucket) AS BIGINT)
                           END IGNORE NULLS) OVER fwd AS t1,
               first_value(bvd IGNORE NULLS) OVER fwd AS v1
        FROM j
        WINDOW back AS (PARTITION BY user_id ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW),
               fwd AS (PARTITION BY user_id ORDER BY bucket
                       ROWS BETWEEN CURRENT ROW
                                AND UNBOUNDED FOLLOWING)),
    calc AS (
        SELECT *,
               CAST((v0 * (t1 - CAST(epoch(bucket) AS BIGINT))
                     + v1 * (CAST(epoch(bucket) AS BIGINT) - t0))
                    * 1000000 AS BIGINT) AS num_i,
               t1 - t0 AS den
        FROM w)
    SELECT user_id,
           strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
           round(bucket_value, 6) AS bucket_value,
           CASE WHEN bucket_value IS NOT NULL
                THEN round(bucket_value, 6)
                ELSE (CASE WHEN num_i >= 0
                           THEN (2 * num_i + den) // (2 * den)
                           ELSE -((2 * -num_i + den) // (2 * den))
                      END) / 1000000.0 END AS filled_value,
           CASE WHEN bucket_value IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM calc
    """,
)
def core_gapfill_interp(spark: SparkSession, sf: str) -> DataFrame:
    """Linear-interpolation gap filling
    (`operators/asof.py::gapfill_locf(fill="interp")` — pandas
    ``resample().interpolate()``): gaps take the line between the
    surrounding observations. Same single-sort-per-key plan as LOCF
    with one extra (reverse-frame) window pass; all arithmetic over
    identical doubles, deterministic in both engines."""
    from blackroad_feature_store_spark.operators.asof import gapfill_locf

    ev = load(spark, sf, "events").where(F.col("user_id") < 30)
    out = gapfill_locf(ev, ["user_id"], "ts", "value", fill="interp")
    return out.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        "bucket_value",
        "filled_value",
        "is_gap",
    )


@q(
    "stats_histogram_quantiles",
    """
    WITH h AS (SELECT event_type,
                      CAST(least(greatest(floor((value - 0.0) / 50.0), 0),
                                 9) AS INT) AS bin,
                      count(*) AS n
               FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    c AS (SELECT event_type, bin, n,
                 sum(n) OVER (PARTITION BY event_type ORDER BY bin
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(n) OVER (PARTITION BY event_type) AS tot
          FROM h),
    e AS (SELECT c.event_type, c.bin, c.n, c.cum, c.cum - c.n AS bef,
                 p.prob,
                 GREATEST(1, CAST(ceil(p.prob * c.tot) AS BIGINT)) AS rnk
          FROM c CROSS JOIN
               (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE)
                       AS prob) p),
    x AS (SELECT event_type, prob, bin, n, bef, rnk,
                 row_number() OVER (PARTITION BY event_type, prob
                                    ORDER BY bin) AS rn
          FROM e WHERE cum >= rnk)
    SELECT event_type, prob,
           round(0.0 + 50.0 * (bin + (rnk - bef) / n), 6) AS approx_value
    FROM x WHERE rn = 1
    """,
)
def stats_histogram_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Quantiles served from histogram counts
    (operators/stats.py::histogram_quantiles): p50/p90/p99 of
    events.value per event_type read off the SAME fixed-bin histogram
    the streaming store maintains incrementally — |keys × bins| input
    rows whatever the corpus size, rank-based in-bin interpolation
    (deterministic: integer ranks, no float tie-breaks). The oracle
    replays the identical cumulative-crossing construction, certifying
    the quantile algebra bin-for-bin."""
    from blackroad_feature_store_spark.operators.stats import (
        histogram_quantiles,
    )
    from blackroad_feature_store_spark.streaming.stats import (
        partial_histogram,
    )

    ev = load(spark, sf, "events")
    hist = partial_histogram(ev, ["event_type"], "value", 0.0, 500.0, 10)
    return histogram_quantiles(
        hist, ["event_type"], [0.5, 0.9, 0.99], 0.0, 500.0, 10
    ).select("event_type", "prob", "approx_value")


@q(
    "stats_cms_heavy_hitters",
    r"""
    WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
                         AS tok
                  FROM documents),
    hs AS (SELECT tok,
                  CAST('0x' || substr(md5(tok), 1, 14) AS BIGINT) AS h1,
                  CAST('0x' || substr(md5(tok), 15, 14) AS BIGINT) AS h2
           FROM toks),
    cells AS (SELECT tok, j.r AS row,
                     ((h1 + j.r * h2) % 72057594037927936) % 512 AS col
              FROM hs CROSS JOIN
                   (SELECT unnest(generate_series(0, 3)) AS r) j),
    sk AS (SELECT row, col, count(*) AS n FROM cells GROUP BY row, col),
    exact AS (SELECT tok, count(*) AS exact_n FROM toks GROUP BY tok),
    top AS (SELECT tok, exact_n FROM exact
            ORDER BY exact_n DESC, tok LIMIT 20),
    cand AS (SELECT DISTINCT c.tok, c.row, c.col
             FROM cells c JOIN top USING (tok)),
    est AS (SELECT cand.tok, min(coalesce(sk.n, 0)) AS cms_n
            FROM cand LEFT JOIN sk USING (row, col) GROUP BY cand.tok)
    SELECT t.tok, CAST(t.exact_n AS BIGINT) AS exact_n,
           CAST(e.cms_n AS BIGINT) AS cms_n
    FROM top t JOIN est e USING (tok)
    """,
)
def stats_cms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min sketch frequency estimation
    (operators/stats.py::{cms_sketch,cms_estimate}): token frequencies
    summarized into a FIXED 4×512-cell sketch — input-size-independent
    shuffle and a broadcastable summary, the heavy-hitter tracking
    sketch that completes the mergeable family (HLL = distinct,
    histograms = distribution, CMS = frequency). The query estimates
    the exact top-20 tokens through the sketch and emits exact vs
    estimated counts; the oracle rebuilds the identical sketch (same
    md5 Kirsch–Mitzenmacher cells as the minhash family) in SQL, so
    parity certifies construction AND estimation cell-for-cell —
    including any collision overestimates, which must agree exactly
    because the hash family is deterministic."""
    from blackroad_feature_store_spark.operators.stats import (
        cms_estimate,
        cms_sketch,
    )

    toks = load(spark, sf, "documents").select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    sketch = cms_sketch(toks, "tok", depth=4, width=512)
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "tok")
        .limit(20)
    )
    est = cms_estimate(sketch, top.select("tok"), "tok", 4, 512)
    return top.join(est, "tok").select(
        "tok",
        F.col("exact_n").cast("long").alias("exact_n"),
        F.col("cms_count").alias("cms_n"),
    )


@q(
    "stats_hll_distinct",
    """
    SELECT source,
           count(DISTINCT text) AS n_distinct,
           1 AS sketch_within_3pct
    FROM documents GROUP BY source ORDER BY source
    """,
)
def stats_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable distinct-count sketches
    (`operators/stats.py::hll_sketches/hll_rollup` — DataSketches HLL):
    per-(source, lang) sketches are unioned up to per-source and the
    estimate is checked against the exact distinct IN-QUERY. The
    emitted ``sketch_within_3pct`` column is the certification: the
    oracle pins it to 1, so an estimate drifting past the 3% envelope
    (or a broken sketch merge) hash-fails the gate. This is the
    incremental pattern a 100 TB corpus uses for distinct counting —
    sketch at ingest, union kilobytes at query time, never rescan."""
    from blackroad_feature_store_spark.operators.stats import (
        hll_rollup,
        hll_sketches,
    )

    docs = load(spark, sf, "documents").select("source", "lang", "text")
    detail = hll_sketches(docs, ["source", "lang"], "text", lgk=12)
    rolled = hll_rollup(detail, ["source"])
    exact = docs.groupBy("source").agg(
        F.countDistinct("text").alias("n_distinct")
    )
    return (
        exact.join(rolled, "source")
        .select(
            "source",
            "n_distinct",
            F.when(
                F.abs(
                    F.col("approx_distinct") - F.col("n_distinct")
                )
                / F.col("n_distinct")
                <= 0.03,
                1,
            )
            .otherwise(0)
            .alias("sketch_within_3pct"),
        )
        .orderBy("source")
    )


@q(
    "drift_psi",
    """
    WITH b AS (
        SELECT event_type,
               CAST(least(greatest(floor((value - 0.0) / 50.0), 0), 9)
                    AS INT) AS bin,
               CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                    THEN 1 ELSE 0 END AS r
        FROM events),
    c AS (SELECT event_type, bin, sum(r) AS n_ref, sum(1 - r) AS n_cur
          FROM b GROUP BY 1, 2),
    frame AS (
        SELECT k.event_type, g.bin
        FROM (SELECT DISTINCT event_type FROM events) k
        CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin) g),
    f AS (SELECT fr.event_type, fr.bin,
                 coalesce(c.n_ref, 0) AS n_ref,
                 coalesce(c.n_cur, 0) AS n_cur
          FROM frame fr LEFT JOIN c
            ON fr.event_type = c.event_type AND fr.bin = c.bin),
    t AS (SELECT event_type, sum(n_ref) AS tot_ref, sum(n_cur) AS tot_cur
          FROM f GROUP BY 1)
    SELECT f.event_type,
           CAST(sum(f.n_ref) AS BIGINT) AS n_ref,
           CAST(sum(f.n_cur) AS BIGINT) AS n_cur,
           round(sum(
               ((f.n_ref + 0.5) / (t.tot_ref + 5.0)
                - (f.n_cur + 0.5) / (t.tot_cur + 5.0))
               * ln(((f.n_ref + 0.5) / (t.tot_ref + 5.0))
                    / ((f.n_cur + 0.5) / (t.tot_cur + 5.0)))), 6) AS psi
    FROM f JOIN t USING (event_type)
    GROUP BY f.event_type
    """,
)
def drift_psi(spark: SparkSession, sf: str) -> DataFrame:
    """Feature-drift monitoring: Population Stability Index per
    event_type between the first and second half of the events window
    (`operators/stats.py::population_stability`; 10 fixed-width bins
    over [0, 500), 0.5 Laplace smoothing). The oracle replays the
    identical histogram/smoothing/Σ(Δp·ln-ratio) algebra, including the
    completed bin frame — missing bins MUST contribute their smoothed
    term or PSI biases low, which is the subtle bug this pin exists to
    catch."""
    ev = load(spark, sf, "events")
    out = population_stability(
        ev,
        value_col="value",
        key_col="event_type",
        is_ref=F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"),
        n_bins=10,
        lo=0.0,
        hi=500.0,
        eps=0.5,
    )
    return out.select(
        F.col("key").alias("event_type"), "n_ref", "n_cur", "psi"
    )


@q(
    "store_changes_feed",
    """
    SELECT CAST(o_custkey AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)
               AS entity_id,
           o_totalprice AS totalprice,
           CAST(o_orderkey % 3 AS INT) AS _commit_version
    FROM orders WHERE o_orderkey % 3 IN (1, 2)
    """,
)
def store_changes_feed(spark: SparkSession, sf: str) -> DataFrame:
    """Change-data-feed certification
    (`store.py::records_changes`): orders land in THREE append commits
    (split on o_orderkey % 3 → record-table versions 0/1/2), and the
    feed is read from the version-0 cursor. The contract pinned: the
    feed returns exactly the rows of commits 1-2 — not commit 0, not a
    rescan of the table — each tagged with the commit version that
    inserted it, by reading only the files those manifests added. This
    is the incremental-refresh primitive a downstream training-data
    pipeline consumes instead of a 100 TB rescan."""
    from blackroad_feature_store_spark.store import FeatureStore

    fs = FeatureStore(spark, _scratch("fs_cdf_"))
    fs.register_feature("totalprice", "order", "float")
    g = fs.create_group("orders_cdf", ["totalprice"], "order_id")
    orders = load(spark, sf, "orders")
    enc = lambda c: F.regexp_extract(  # noqa: E731 — JSON-cell encoder
        F.to_json(F.struct(F.col(c).alias("v")), {"ignoreNullFields": "false"}),
        r'^\{"v":(.*)\}$',
        1,
    )
    for b in range(3):
        recs = orders.where(F.col("o_orderkey") % 3 == b).select(
            F.expr("uuid()").alias("id"),
            F.lit(g.id).alias("group_id"),
            F.concat_ws(
                ":",
                F.col("o_custkey").cast("string"),
                F.col("o_orderkey").cast("string"),
            ).alias("entity_id"),
            F.map_from_arrays(
                F.array(F.lit("totalprice")), F.array(enc("o_totalprice"))
            ).alias("feature_values"),
            F.col("o_orderdate").cast("timestamp").alias("timestamp"),
            F.lit(1).alias("version"),
        )
        fs.write_records_df(recs)
    feed = fs.records_changes(since_version=0)
    return feed.select(
        "entity_id",
        F.element_at("feature_values", "totalprice")
        .cast("double")
        .alias("totalprice"),
        "_commit_version",
    )


@q(
    "store_changes_deletes",
    """
    WITH sel AS (SELECT o_orderkey, o_orderdate FROM orders
                 WHERE o_orderkey % 50 = 0),
    m AS (SELECT min(o_orderkey) AS victim FROM sel)
    SELECT CAST(o_orderkey AS VARCHAR) AS entity_id,
           'insert' AS _change_type,
           0 AS _commit_version
    FROM sel
    UNION ALL
    SELECT CAST(victim AS VARCHAR), 'delete', 1 FROM m
    """,
)
def store_changes_deletes(spark: SparkSession, sf: str) -> DataFrame:
    """Delete-stream certification
    (`store.py::records_changes(include_deletes=True)`): one append
    commit (v0), then a GDPR-style ``delete_entity_records`` of the
    lowest entity (v1 — a rewrite commit). The full-history feed must
    surface every v0 row tagged 'insert' AND exactly the erased
    entity's row tagged 'delete' with the rewrite's commit version —
    computed as removed-files minus added-files on the record id, cost
    ∝ the rewritten partition. This is Delta CDF's delete stream: the
    signal a downstream index/cache needs to retract rows without
    diffing snapshots."""
    from blackroad_feature_store_spark.store import FeatureStore

    fs = FeatureStore(spark, _scratch("fs_cdfdel_"))
    fs.register_feature("totalprice", "order", "float")
    g = fs.create_group("orders_cdf_del", ["totalprice"], "order_id")
    enc = lambda c: F.regexp_extract(  # noqa: E731 — JSON-cell encoder
        F.to_json(F.struct(F.col(c).alias("v")), {"ignoreNullFields": "false"}),
        r'^\{"v":(.*)\}$',
        1,
    )
    sel = load(spark, sf, "orders").where(F.col("o_orderkey") % 50 == 0)
    recs = sel.select(
        F.expr("uuid()").alias("id"),
        F.lit(g.id).alias("group_id"),
        F.col("o_orderkey").cast("string").alias("entity_id"),
        F.map_from_arrays(
            F.array(F.lit("totalprice")), F.array(enc("o_totalprice"))
        ).alias("feature_values"),
        F.col("o_orderdate").cast("timestamp").alias("timestamp"),
        F.lit(1).alias("version"),
    )
    fs.write_records_df(recs)
    victim = str(sel.agg(F.min("o_orderkey")).collect()[0][0])
    fs.delete_entity_records(g.id, victim)
    feed = fs.records_changes(since_version=-1, include_deletes=True)
    return feed.select("entity_id", "_change_type", "_commit_version")


@q(
    "store_mv_incremental",
    """
    SELECT CAST(o_custkey AS VARCHAR) AS entity_id,
           count(*) AS n_records,
           min(o_orderdate) AS first_ts,
           max(o_orderdate) AS last_ts
    FROM orders
    GROUP BY o_custkey
    """,
)
def store_mv_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized-view maintenance
    (`store.py::refresh_entity_rollup`): orders land in THREE append
    commits; the per-entity rollup is refreshed after commit 0 (full
    build) and again after commits 1-2 — the second refresh consumes
    ONLY the change feed from the stored cursor and merges it into the
    persisted rollup (cost ∝ new rows + entity count, never a table
    rescan — the refresh a 100 TB store runs nightly). The oracle is
    the full-history GROUP BY the merge must equal."""
    from blackroad_feature_store_spark.store import FeatureStore

    fs = FeatureStore(spark, _scratch("fs_mv_"))
    fs.register_feature("totalprice", "order", "float")
    g = fs.create_group("orders_mv", ["totalprice"], "cust_id")
    orders = load(spark, sf, "orders")
    enc = lambda c: F.regexp_extract(  # noqa: E731 — JSON-cell encoder
        F.to_json(F.struct(F.col(c).alias("v")), {"ignoreNullFields": "false"}),
        r'^\{"v":(.*)\}$',
        1,
    )
    for b in range(3):
        recs = orders.where(F.col("o_orderkey") % 3 == b).select(
            F.expr("uuid()").alias("id"),
            F.lit(g.id).alias("group_id"),
            F.col("o_custkey").cast("string").alias("entity_id"),
            F.map_from_arrays(
                F.array(F.lit("totalprice")), F.array(enc("o_totalprice"))
            ).alias("feature_values"),
            F.col("o_orderdate").cast("timestamp").alias("timestamp"),
            F.lit(1).alias("version"),
        )
        fs.write_records_df(recs)
        if b == 0:
            fs.refresh_entity_rollup("orders_rollup", g.id)
    mv = fs.refresh_entity_rollup("orders_rollup", g.id)
    return mv.select("entity_id", "n_records", "first_ts", "last_ts")


# ---------------------------------------------------------------------------
# TPC-H widening (round 6): the classic analytics shapes not yet in the
# catalog — single-table pushdown agg (Q6), EXISTS semi-join (Q4),
# conditional-share join agg (Q14), HAVING-subquery join (Q18),
# OR-of-ANDs join pushdown (Q19), scalar-subquery + anti-join (Q22).
# Date constants adapted to the testdata's 1995-2001 range; columns the
# testdata lacks (l_shipmode, l_receiptdate, p_container, partsupp) are
# substituted with equivalent predicates on existing columns so each
# query keeps its defining plan shape.
# ---------------------------------------------------------------------------


@q(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '2000-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the canonical
    predicate-pushdown showcase — every filter (date range, discount
    band, quantity cap) reaches the parquet scan as a PushedFilter, so
    row groups outside the ship-date range never leave storage; what
    survives is a partial+final agg with no shuffle beyond the final
    single-row exchange. Decimal-input arithmetic per tpch_q1."""
    li = load(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col(
        "l_discount"
    ).cast("decimal(18,2)")
    return li.agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@q(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 (order priority checking) with the reference schema's
    late-shipment predicate (l_shipdate > o_orderdate + 60 days) in
    place of the commit/receipt dates the testdata lacks. The defining
    shape survives: EXISTS lowers to LEFT SEMI join on the order key
    with the correlated date comparison in the join condition —
    lineitem is never widened into the output, and the semi join
    short-circuits per matching key. At scale both sides shuffle on
    orderkey (no broadcast hint: lineitem is the largest fact)."""
    orders = load(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-04-01").cast("timestamp"))
    )
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@q(
    "tpch_q14_promo_revenue",
    """
    WITH j AS (
        SELECT CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev,
               p_type
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1999-09-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1999-10-01 00:00:00')
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                                       THEN rev ELSE 0 END) AS DOUBLE)
                 / CAST(sum(rev) AS DOUBLE), 6) AS promo_revenue,
           count(*) AS n_lines
    FROM j
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): conditional-share aggregation over
    a fact⋈dim join. part is a true dimension (200/sf0.1 ≈ 20k rows at
    SF100) — broadcastable, but the hint is left to AQE per the
    fact-broadcast lint; the month filter prunes lineitem at the scan.
    The CASE WHEN share pattern is the single-pass alternative to two
    separate filtered aggregations."""
    li = load(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1999-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-10-01").cast("timestamp"))
    )
    part = load(spark, sf, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    j = li.join(part, li.l_partkey == part.p_partkey).select(
        rev.alias("rev"), "p_type"
    )
    promo = F.sum(
        F.when(F.col("p_type").startswith("PROMO"), F.col("rev")).otherwise(
            F.lit(0).cast("decimal(18,2)")
        )
    ).cast("double")
    return j.agg(
        F.round(100.0 * promo / F.sum("rev").cast("double"), 6).alias(
            "promo_revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@q(
    "tpch_q18_large_orders",
    """
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_totalprice,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING sum(l_quantity) > 300)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): aggregate-HAVING subquery
    feeding a semi join, then a 3-way join re-aggregated. The qualifying
    keys come from a map-side-combinable groupBy on lineitem alone; the
    IN lowers to LEFT SEMI against that tiny qualifying set, so the
    expensive customer⋈orders⋈lineitem join runs only over qualifying
    orders (46 of 15k at sf0.01). Both lineitem passes shuffle on
    l_orderkey; AQE reuses the exchange where beneficial."""
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer").select("c_custkey", "c_name")
    qualifying = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 300)
        .select("l_orderkey")
    )
    big = orders.join(
        qualifying,
        orders.o_orderkey == qualifying.l_orderkey,
        "left_semi",
    )
    return (
        big.join(li, big.o_orderkey == li.l_orderkey)
        .join(cust, big.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                 "o_totalprice")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_qty")
        )
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice", "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@q(
    "tpch_q19_disjunct_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 40)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 50)
    """,
)
def tpch_q19_disjunct_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): OR-of-ANDs across both join
    sides — the optimizer-stress shape. Catalyst factors the disjunction
    into single-side implications: part rows outside
    brand∈{1,2,3} ∧ size∈[1,50] and lineitem rows outside qty∈[1,50]
    are prunable BEFORE the join (constraint propagation), with the full
    disjunction re-checked as the join residual. Container/shipmode
    terms from canonical Q19 are dropped (columns absent) — the
    cross-side OR structure, which is the point, is intact."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(part, part.p_partkey == li.l_partkey)
    qty = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & qty.between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & qty.between(10, 40)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & qty.between(20, 50)
        )
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    return j.where(cond).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@q(
    "tpch_q22_dormant_customers",
    """
    WITH thr AS (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS ab
        FROM customer WHERE c_acctbal > 0.0)
    SELECT c_mktsegment,
           count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           AS totacctbal
    FROM customer, thr
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def tpch_q22_dormant_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): scalar aggregate subquery
    (the global average balance) + NOT EXISTS anti join. Adapted:
    "dormant" = no order since 2001-01-01 (every testdata customer has
    SOME order, unlike canonical TPC-H; the phone-prefix filter has no
    column). The threshold is a one-row broadcast cross join — the
    scalar subquery pattern that stays O(1) at any scale; the anti join
    shuffles on custkey against the date-pruned orders slice only.
    Threshold arithmetic is decimal-sum / count in the SAME operation
    order both engines, so the comparison boundary is bit-identical."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    thr = cust.where(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("ab")
    )
    rich = cust.join(F.broadcast(thr)).where(F.col("c_acctbal") > F.col("ab"))
    dormant = rich.join(
        orders,
        rich.c_custkey == orders.o_custkey,
        "left_anti",
    )
    return (
        dormant.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


@q(
    "tpch_q7_volume_shipping",
    """
    WITH shipping AS (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00')
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(volume) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): the two-role dimension pattern —
    nation joins the fact chain TWICE (supplier side and customer
    side), with an OR across the pair so both trade directions survive
    one plan. Both nation sides are tiny broadcasts; the only shuffles
    are the fact-chain joins on their keys and the final 3-key agg.
    Nation names adapted to the synthetic NATION_<k> domain."""
    li = load(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    orders = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf, "nation").select("n_nationkey", "n_name")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    vol = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    j = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .where(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            vol.alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.sum("volume").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@q(
    "tpch_q9_product_profit",
    """
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    - CAST(p_retailprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY nation, o_year
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): the widest join chain in the
    catalog — lineitem against three dims + orders, grouped by supplier
    nation × order year. Adapted: the testdata has no partsupp, so
    supply cost is proxied by p_retailprice × quantity (keeps the
    profit = revenue − cost two-term decimal algebra and the plan
    shape: the p_name LIKE '%red%' filter prunes part BEFORE the join
    — '%red%' because the synthetic vocabulary has no 'green' parts,
    which made the original filter match zero rows and certify nothing
    — and the
    part join halves the fact rows early). All arithmetic in exact
    DECIMAL until the final double cast."""
    li = load(spark, sf, "lineitem")
    part = (
        load(spark, sf, "part")
        .where(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    orders = load(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    nation = load(spark, sf, "nation").select("n_nationkey", "n_name")
    profit = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    ) - F.col("p_retailprice").cast("decimal(18,2)") * F.col(
        "l_quantity"
    ).cast("decimal(18,2)")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            profit.alias("profit"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("profit").cast("double").alias("sum_profit"))
        .orderBy("nation", "o_year")
    )


@q(
    "tpch_q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey
           AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): LEFT OUTER join with the
    filter INSIDE the join condition (a WHERE would silently turn it
    inner and drop zero-order customers — the classic outer-join trap
    this query exists to test), then two stacked aggregations. The
    second groupBy runs on the per-customer frame (≤ |customer| rows);
    count(o_orderkey) counts only matched rows, so no-order customers
    land in the c_count=0 bucket. Adapted: the o_comment NOT LIKE
    filter becomes an o_orderpriority exclusion (no comment column)."""
    cust = load(spark, sf, "customer").select("c_custkey")
    orders = load(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    j = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey)
        & (orders.o_orderpriority != "1-URGENT"),
        "left_outer",
    )
    per_cust = j.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@q(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1999-04-01 00:00:00'
        GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT max(total_rev) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 (top supplier): aggregate-then-select-the-max — the
    canonical "view + scalar subquery" shape. The Spark plan computes
    the quarter's per-supplier revenue ONCE and finds the max with a
    global window over that already-aggregated frame (≤ |supplier|
    rows — an empty-frame window at any scale, vs re-running the fact
    aggregation as a subquery). Revenue stays exact DECIMAL through
    the max comparison, so ties are bit-exact in both engines."""
    from pyspark.sql.window import Window

    li = load(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(18,2)"))
            ).alias("total_rev")
        )
        .withColumn(
            "max_rev",
            F.max("total_rev").over(
                Window.partitionBy()
            ),
        )
        .where(F.col("total_rev") == F.col("max_rev"))
    )
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        supp.join(rev, supp.s_suppkey == rev.supplier_no)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@q(
    "tpch_q17_small_quantity_revenue",
    """
    WITH pavg AS (
        SELECT l_partkey AS a_partkey,
               0.2 * avg(l_quantity) AS qty_threshold
        FROM lineitem GROUP BY l_partkey)
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               / 7.0 AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pavg ON a_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND p_size <= 10
      AND l_quantity < qty_threshold
    """,
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): correlated scalar
    subquery (per-part average quantity), hand-decorrelated to the
    aggregate-join form Catalyst itself would rewrite to — one
    per-part aggregation of the fact, joined back on partkey. The
    threshold stays in DOUBLE: quantities are small integers, so the
    partial sums are exact in IEEE double and 0.2·avg is deterministic
    across partition orders in both engines. p_size <= 10 substitutes
    the absent p_container filter."""
    li = load(spark, sf, "lineitem")
    pavg = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_threshold")
    )
    part = (
        load(spark, sf, "part")
        .where((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 10))
        .select("p_partkey")
    )
    j = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(pavg, li.l_partkey == pavg.a_partkey)
        .where(F.col("l_quantity") < F.col("qty_threshold"))
    )
    return j.agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / 7.0
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@q(
    "tpch_q21_waiting_supplier",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): the
    EXISTS + NOT-EXISTS double correlation — a semi join AND an anti
    join against the same fact table, both on the order key. Adapted:
    "late" is l_shipdate > o_orderdate + 90 days (no
    receipt/commit-date columns), and the late test inside both
    subqueries uses the outer order's date, so the anti side joins the
    precomputed late-lines frame. Both subquery sides reduce to
    (orderkey, suppkey) pairs before joining — the shuffles carry two
    narrow columns, not lineitem rows."""
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_name")
    li = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load(spark, sf, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 90 DAYS"
    )
    l1 = li.join(orders, li.l_orderkey == orders.o_orderkey).where(late)
    pairs = li.select(
        F.col("l_orderkey").alias("p_orderkey"),
        F.col("l_suppkey").alias("p_suppkey"),
    ).dropDuplicates()
    l1 = l1.join(
        pairs,
        (F.col("l_orderkey") == F.col("p_orderkey"))
        & (F.col("l_suppkey") != F.col("p_suppkey")),
        "left_semi",
    )
    late_pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(late)
        .select(
            F.col("l_orderkey").alias("q_orderkey"),
            F.col("l_suppkey").alias("q_suppkey"),
        )
        .dropDuplicates()
    )
    l1 = l1.join(
        late_pairs,
        (F.col("l_orderkey") == F.col("q_orderkey"))
        & (F.col("l_suppkey") != F.col("q_suppkey")),
        "left_anti",
    )
    return (
        l1.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@q(
    "tpch_q8_market_share",
    """
    WITH base AS (
        SELECT year(o_orderdate) AS o_year,
               CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region    ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'AMERICA'
          AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00')
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                               THEN volume ELSE 0 END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share,
           count(*) AS n_lines
    FROM base GROUP BY o_year ORDER BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 (national market share): the nested-aggregation share
    pattern over the longest dimension chain — customer-side
    nation→region filters WHERE the revenue counts, supplier-side
    nation labels WHO earned it, and the share is a CASE-conditional
    sum over the same single-pass aggregate (no second scan). Region
    and both nation roles are broadcast-sized; the decimal volume sums
    convert to double only at the final division."""
    li = load(spark, sf, "lineitem")
    part = (
        load(spark, sf, "part")
        .where(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    orders = load(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf, "nation")
    region = (
        load(spark, sf, "region")
        .where(F.col("r_name") == "AMERICA")
        .select("r_regionkey")
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_regionkey").alias("n1_region"),
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    base = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, F.col("c_nationkey") == F.col("n1_key"))
        .join(region, F.col("n1_region") == F.col("r_regionkey"))
        .join(n2, F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    target = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
            F.lit(0).cast("decimal(18,2)")
        )
    ).cast("double")
    return (
        base.groupBy("o_year")
        .agg(
            F.round(target / F.sum("volume").cast("double"), 6).alias(
                "mkt_share"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_year")
    )


@q(
    "tpch_q16_supplier_count",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#3'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_count(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): COUNT(DISTINCT) per
    3-key group with a NOT-IN exclusion subquery. Adapted: partsupp is
    absent, so the part↔supplier relation comes from lineitem, and the
    complaints exclusion becomes s_acctbal < 0. The excluded-supplier
    set is dim-sized → broadcast anti join (s_suppkey is non-null, so
    NOT IN ≡ anti join without the null trap); the distinct runs as a
    two-phase partial aggregate on (brand, type, size, suppkey)."""
    li = load(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    part = load(spark, sf, "part").where(
        (F.col("p_brand") != "Brand#3")
        & (~F.col("p_type").startswith("PROMO"))
        & (F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = (
        load(spark, sf, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# TPC-H widening III (round 6, session 4): the final four shapes —
# Q2 (correlated-min supplier selection), Q11 (group agg vs global
# scalar threshold over the same derived table), Q12 (derived-category
# pivot over a fact-fact join), Q20 (double-nested IN semi joins with a
# correlated quantity test). With these the catalog covers the plan
# shape of all 22 TPC-H queries. partsupp is absent from the testdata,
# so the part↔supplier relation and its costs/quantities derive from
# lineitem (the actual supply events) — each query keeps its defining
# plan shape.
# ---------------------------------------------------------------------------


@q(
    "tpch_q2_min_cost_supplier",
    """
    WITH ps AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               min(l_extendedprice / l_quantity) AS ps_supplycost
        FROM lineitem GROUP BY l_partkey, l_suppkey),
    eur AS (
        SELECT ps_partkey, ps_suppkey, ps_supplycost,
               s_acctbal, s_name, n_name
        FROM ps JOIN supplier ON s_suppkey = ps_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE')
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
           round(ps_supplycost, 6) AS supplycost
    FROM part JOIN eur ON p_partkey = ps_partkey
    WHERE p_size = 15 AND p_type = 'STANDARD'
      AND ps_supplycost = (SELECT min(e2.ps_supplycost) FROM eur e2
                           WHERE e2.ps_partkey = p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 (minimum cost supplier): the correlated-min shape —
    for each qualifying part, keep only the European supplier(s)
    matching the per-part minimum cost. Adapted: no partsupp, so the
    supply relation is the distinct (part, supplier) pairs observed in
    lineitem and supplycost is the minimum unit price ever charged
    (min of identical doubles — bit-exact in both engines). The
    correlated subquery is decorrelated to a per-part window min over
    the Europe-filtered frame — computed ONCE, not per outer row; the
    region/nation/supplier dims broadcast, and the equality join to
    the size/type-filtered part prunes before the final sort."""
    li = load(spark, sf, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "ps_supplycost"
        )
    )
    supp = load(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    nation = load(spark, sf, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load(spark, sf, "region").where(F.col("r_name") == "EUROPE")
    eur = (
        ps.join(supp, ps.ps_suppkey == supp.s_suppkey)
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .withColumn(
            "min_cost",
            F.min("ps_supplycost").over(Window.partitionBy("ps_partkey")),
        )
        .where(F.col("ps_supplycost") == F.col("min_cost"))
    )
    part = (
        load(spark, sf, "part")
        .where((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey", "p_type")
    )
    return (
        eur.join(part, eur.ps_partkey == part.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.round("ps_supplycost", 6).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


@q(
    "tpch_q11_important_stock",
    """
    WITH ps AS (
        SELECT l_partkey AS ps_partkey,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * CAST(l_quantity AS DECIMAL(18,2))) AS value
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'
        GROUP BY l_partkey)
    SELECT ps_partkey, CAST(value AS DOUBLE) AS part_value
    FROM ps
    WHERE CAST(value AS DOUBLE) * 1000.0
          > (SELECT CAST(sum(value) AS DOUBLE) FROM ps)
    ORDER BY part_value DESC, ps_partkey
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 (important stock identification): per-part value vs a
    global scalar threshold computed from the SAME derived table.
    Adapted: value = Σ extendedprice×quantity over one nation's
    suppliers (no partsupp availqty). The per-part aggregation runs
    ONCE; the global total is a window sum over the already-aggregated
    frame (≤ |part| rows) instead of a second scan of the fact. Sums
    accumulate in exact DECIMAL so partial-agg order cannot move the
    threshold comparison; the compare is done on the (identical)
    doubles both engines cast from those exact decimals."""
    li = load(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf, "nation").where(
        F.col("n_name") == "NATION_7"
    ).select("n_nationkey")
    ps = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_quantity").cast("decimal(18,2)")
            ).alias("value")
        )
    )
    ps = ps.withColumn(
        "total", F.sum("value").over(Window.partitionBy())
    )
    return (
        ps.where(
            F.col("value").cast("double") * 1000.0
            > F.col("total").cast("double")
        )
        .select(
            "ps_partkey", F.col("value").cast("double").alias("part_value")
        )
        .orderBy(F.desc("part_value"), "ps_partkey")
    )


@q(
    "tpch_q12_shipping_priority_modes",
    """
    SELECT ship_mode,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM (SELECT l_orderkey, l_shipdate,
                 CASE l_linenumber % 3 WHEN 0 THEN 'MAIL'
                      WHEN 1 THEN 'SHIP' ELSE 'AIR' END AS ship_mode
          FROM lineitem) l
    JOIN orders ON o_orderkey = l_orderkey
    WHERE ship_mode IN ('MAIL', 'SHIP')
      AND l_shipdate > o_orderdate + INTERVAL 21 DAY
      AND l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY ship_mode ORDER BY ship_mode
    """,
)
def tpch_q12_shipping_priority_modes(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 (shipping modes and order priority): fact-fact join
    with a conditional-sum pivot per ship mode. Adapted: the testdata
    has no l_shipmode/receiptdate, so the mode is a deterministic
    derived category (linenumber mod 3 — computed identically in both
    engines) and "late delivery" is shipdate > orderdate + 21 days.
    The defining shape survives: the mode and year filters prune the
    fact before the orderkey shuffle join, and the two CASE sums run
    as one partial+final aggregate pass (no second scan per bucket)."""
    li = load(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        F.when(F.col("l_linenumber") % 3 == 0, "MAIL")
        .when(F.col("l_linenumber") % 3 == 1, "SHIP")
        .otherwise("AIR")
        .alias("ship_mode"),
    )
    li = li.where(
        F.col("ship_mode").isin("MAIL", "SHIP")
        & (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    orders = load(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 21 DAYS")
        )
        .groupBy("ship_mode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_mode")
    )


@q(
    "tpch_q20_part_promotion",
    """
    WITH shipped AS (
        SELECT l_partkey AS e_partkey, l_suppkey AS e_suppkey,
               sum(l_quantity) AS total_qty,
               sum(CASE WHEN l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
                         AND l_shipdate <  TIMESTAMP '2000-01-01 00:00:00'
                        THEN l_quantity ELSE 0 END) AS recent_qty
        FROM lineitem GROUP BY l_partkey, l_suppkey)
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_9'
      AND s_suppkey IN (
          SELECT e_suppkey FROM shipped
          WHERE e_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE 'small%')
            AND total_qty >= 60
            AND recent_qty > 0.5 * total_qty)
    ORDER BY s_name
    """,
)
def tpch_q20_part_promotion(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): the double-nested IN —
    suppliers who, for some 'small%' part they supply, shipped more
    than half that part's lifetime quantity in 1999 (proxy for the
    availqty > half-of-shipped test; partsupp is absent). Both INs
    lower to LEFT SEMI joins: part filters shipped on partkey
    (broadcast — part is a dim), the qualifying supplier-key set then
    semi-joins supplier. Quantities are small integers, so the double
    sums are IEEE-exact and the 0.5× comparison is deterministic.
    The quantity floor (≥ 60) keeps the test meaningful on pairs with
    more than a couple of lineitems."""
    li = load(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    recent = (
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    shipped = li.groupBy(
        F.col("l_partkey").alias("e_partkey"),
        F.col("l_suppkey").alias("e_suppkey"),
    ).agg(
        F.sum("l_quantity").alias("total_qty"),
        F.sum(F.when(recent, F.col("l_quantity")).otherwise(0.0)).alias(
            "recent_qty"
        ),
    )
    small_parts = (
        load(spark, sf, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    qualifying = (
        shipped.join(
            small_parts,
            shipped.e_partkey == small_parts.p_partkey,
            "left_semi",
        )
        .where(
            (F.col("total_qty") >= 60)
            & (F.col("recent_qty") > 0.5 * F.col("total_qty"))
        )
        .select("e_suppkey")
    )
    supp = load(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    nation = load(spark, sf, "nation").where(
        F.col("n_name") == "NATION_9"
    ).select("n_nationkey")
    return (
        supp.join(nation, supp.s_nationkey == F.col("n_nationkey"))
        .join(qualifying, supp.s_suppkey == qualifying.e_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@q(
    "dedup_semantic",
    f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS cvec
                   FROM embeddings WHERE vec_id < 16),
    assign_scored AS (
        SELECT c.vec_id, c.label, k.cid,
               {_sql_cos('c.embedding', 'k.cvec')} AS sim
        FROM embeddings c CROSS JOIN cents k),
    assigned AS (
        SELECT vec_id, label, cid, sim FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
            FROM assign_scored) WHERE rn = 1),
    dropped AS (
        SELECT DISTINCT a.vec_id
        FROM assigned a
        JOIN assigned b ON a.cid = b.cid
         AND (b.sim < a.sim OR (b.sim = a.sim AND b.vec_id < a.vec_id))
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE {_sql_cos('ea.embedding', 'eb.embedding')} > 0.3)
    SELECT vec_id, label, cid AS centroid_id, sim AS centroid_sim
    FROM assigned
    WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)
def dedup_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup semantic dedup (`operators/dedup.py::semantic_dedup`):
    cluster the embedding space (16 deterministic-sample centroids so
    the oracle replays the index; production swaps in
    `train_centroids`), then one-shot-prune intra-cluster members
    whose cosine to a farther-from-centroid member exceeds τ=0.3. The
    oracle replays the exact assignment (round-6 cosine, centroid-id
    tiebreak), the outranking rule, and the strict-> threshold."""
    from blackroad_feature_store_spark.operators.dedup import semantic_dedup

    emb = load(spark, sf, "embeddings").select("vec_id", "label", "embedding")
    centroids = (
        load(spark, sf, "embeddings")
        .where(F.col("vec_id") < 16)
        .select(F.col("vec_id").alias("centroid_id"), "embedding")
    )
    out = semantic_dedup(emb, centroids, threshold=0.3)
    return out.select("vec_id", "label", "centroid_id", "centroid_sim")


# ---------------------------------------------------------------------------
# Driver-gate registration order
# ---------------------------------------------------------------------------
# The driver's correctness gate certifies the first 50 registered queries.
# Catalog definition order above is thematic; the list below is the
# *certification* order: queries that have never appeared in a
# CORRECTNESS_r*.json (or whose green row was rotated out) register
# first, followed by keepers that guard the signature execution paths.
# Everything not listed keeps its definition order after the window —
# all of those hold green rows from rounds 1-5.

_GATE_PRIORITY: list[str] = [
    # -- keepers: the reference's signature path (feature_store.py:
    # 411-448) stays watched every round --
    "core_pit_join",
    "core_asof_top1",
    "store_roundtrip_asof",
    # -- divergence canary: literal-valued probe of every construct
    # the oracle layer has ever disagreed on --
    "core_oracle_canary",
    # -- r16 changed execution paths: the scheme'd-URI store FS
    # (streaming/fsio.py) under the whole exactsubstr ingest family,
    # and the byte-bounded/overflow-guarded pagerank dispatch --
    "stream_exec_exact_substr_compacted",
    "stream_exec_exact_substr_index",
    "stream_exec_exact_substr_rewrite",
    "stream_exec_exact_substr_gate",
    "graph_pagerank_trade",
    # -- VERDICT r15 ask #4: the final stale-gate rotation — the 10
    # remaining r11-gated rows, plus mm_image_features (its r11 gate
    # row was rows-only; the hash-checked fake-decode oracle has
    # never held a driver-gate slot). After this round every catalog
    # query's latest gate row is r12+ --
    "mm_image_features",
    "stream_exec_dedup",
    "stream_exec_drift_monitor",
    "stream_exec_expectations",
    "stream_exec_hll_distinct",
    "stream_exec_incremental_stats",
    "stream_exec_quantile_monitor",
    "stream_exec_windowed",
    "stream_windowed_counts",
    "text_lang_confusion",
    "text_lang_id",
    # -- oldest-green ballast: the 30 alphabetically-first of the 37
    # r12-gated rows (the remaining 7 tpch rows rotate to r17) --
    "core_asof_sql_join",
    "core_histogram",
    "core_json_props",
    "core_rolling_range",
    "core_salted_join",
    "core_sliding_windows",
    "dedup_semantic_kmeans",
    "ml_kmeans_clusters",
    "pipeline_dedup_report",
    "pipeline_domain_cap",
    "pipeline_paragraph_dedup",
    "pipeline_token_budget_select",
    "sim_cosine_topk_ivf_kmeans",
    "source_csv_roundtrip",
    "source_jsonl_roundtrip",
    "store_bitemporal",
    "store_changes_feed",
    "store_mv_incremental",
    "store_time_travel",
    "stream_exec_cluster_drift",
    "stream_exec_enrich",
    "stream_exec_kmeans_update",
    "stream_exec_sessionize",
    "text_outlier_docs",
    "text_tfidf_top_terms",
    "tpch_q10_returns",
    "tpch_q11_important_stock",
    "tpch_q12_shipping_priority_modes",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue",
]


def _reorder_for_gate() -> None:
    global QUERIES
    missing = [n for n in _GATE_PRIORITY if n not in QUERIES]
    if missing:
        raise AssertionError(
            f"_GATE_PRIORITY names not in catalog: {missing}"
        )
    ordered = {n: QUERIES[n] for n in _GATE_PRIORITY if n in QUERIES}
    ordered.update({n: f for n, f in QUERIES.items() if n not in ordered})
    if len(ordered) != len(QUERIES):
        raise AssertionError("gate reorder dropped catalog queries")
    QUERIES = ordered


_reorder_for_gate()

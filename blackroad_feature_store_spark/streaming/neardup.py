"""Streaming NEAR-duplicate detection — the online half of the MinHash
LSH suite (operators/dedup.py), closing the gap the exact
`dedup_stream` documents: a re-worded boilerplate document sails past
a fingerprint check, but still collides in LSH bucket space.

Spark-first shape: `foreachBatch` + a persisted signature store. Each
micro-batch is shingled and signed ONCE
(`incremental_candidate_pairs`), bucket-joined against the accumulated
signature table (new-vs-existing one direction + new-vs-new), and both
outputs append as parquet partitions keyed by `batch_id`:

- per-batch cost is O(|batch| + bucket collisions), INDEPENDENT of
  how many documents have ever streamed through — the property that
  makes this runnable forever (the signature store grows, but only
  its colliding buckets are ever touched via the equi-join);
- idempotent under micro-batch replay: a batch overwrites its own
  `batch_id=` partition, and the existing-signature read (a
  `streaming/partials.py` store) EXCLUDES the current batch id, so a failed
  attempt's leftovers are both invisible to the retry and overwritten
  by it (the standard foreachBatch exactly-once recipe);
- unlike `dropDuplicatesWithinWatermark` there is no state-store
  eviction horizon: the signature table is plain parquet, so the
  "seen" set is durable across restarts and unbounded in age, while
  Spark's own state store holds NOTHING (foreachBatch is stateless) —
  the right trade for a corpus-build pipeline where late duplicates
  matter more than state bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from blackroad_feature_store_spark.operators.dedup import (
    incremental_candidate_pairs,
)
from blackroad_feature_store_spark.streaming.partials import (
    Monoid,
    PartialStore,
    start_foreach_batch,
    write_batch_partition,
)

# The signature store is a bag: its fold is union-all itself, so a
# live read is the plain union of the batches before the current one.
_SIGNATURES = Monoid(fold=lambda sigs: sigs, kind="signatures")


def process_neardup_batch(
    batch_df: DataFrame,
    batch_id: int,
    sig_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bands: int = 8,
    shingle_size: int = 3,
) -> None:
    """One micro-batch of the near-dup detector — module-level so the
    replay-idempotence contract is directly testable: calling this
    twice with the same ``batch_id`` (foreachBatch does exactly that
    after a failure between write and checkpoint commit) must leave
    the stores identical to one call, because the existing-signature
    read excludes the current batch and both writes dynamically
    overwrite only their own ``batch_id=`` partition. No emptiness
    probe (r17): an empty batch yields zero signatures and zero
    pairs; both writes still land a schema-only part file and
    ``_SUCCESS`` in their ``batch_id=`` directory, which later reads
    list — one fewer job on every batch of every neardup stream."""
    spark = batch_df.sparkSession
    batch = batch_df.select(id_col, text_col)
    # Only a store that does not exist yet reads as the empty seen-set;
    # an unreadable partial fails the micro-batch (silently reading it
    # as empty would permanently miss every cross-batch pair), and
    # foreachBatch replay retries against the intact store.
    existing = PartialStore(
        spark, sig_path, _SIGNATURES, batches=""
    ).live(below=batch_id)
    if existing is None:
        existing = spark.createDataFrame(
            [], f"{id_col} long, band int, sig string"
        )
    # materialize_sigs: the batch is shingled/hashed ONCE (the pairs
    # plan references the signatures three times and the sig-store
    # write is a fourth action over the same lineage)
    pairs, new_sigs = incremental_candidate_pairs(
        batch,
        existing,
        id_col=id_col,
        text_col=text_col,
        num_bands=num_bands,
        shingle_size=shingle_size,
        materialize_sigs=True,
    )
    # sig write FIRST: it materializes the lazily-checkpointed batch
    # signatures, so the pairs write reads persisted blocks
    write_batch_partition(new_sigs, batch_id, sig_path)
    write_batch_partition(pairs, batch_id, pairs_path)


def start_neardup_stream(
    docs: DataFrame,
    sig_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bands: int = 8,
    shingle_size: int = 3,
    available_now: bool = False,
) -> StreamingQuery:
    """Start (or one-shot drain) the streaming near-dup detector.

    `docs` is a streaming DataFrame with at least (`id_col`,
    `text_col`). Appends to two parquet tables partitioned by
    `batch_id`: `sig_path` (id, band, sig) — the growing signature
    store — and `pairs_path` (id_a, id_b) — every LSH candidate pair
    whose LATER member arrived in that batch. Downstream, feed the
    pairs table to `duplicate_clusters` / `ngram_jaccard` exactly like
    the batch path.
    """
    return start_foreach_batch(
        docs,
        lambda batch_df, batch_id: process_neardup_batch(
            batch_df,
            batch_id,
            sig_path,
            pairs_path,
            id_col=id_col,
            text_col=text_col,
            num_bands=num_bands,
            shingle_size=shingle_size,
        ),
        checkpoint,
        available_now,
    )

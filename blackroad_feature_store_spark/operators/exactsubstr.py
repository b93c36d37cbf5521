"""ExactSubstr dedup (Lee et al. 2021, "Deduplicating Training Data
Makes Language Models Better", §4.1): find every MAXIMAL token span of
length >= L that appears verbatim more than once in the corpus, and
the remove-all-but-one rewrite over those spans.

The reference engine (BlackRoad-Labs/blackroad-feature-store) has no
dedup surface at all; within THIS engine the operator completes the
dedup ladder — `corpus.duplicated_ngram_spans` measures fixed-n
coverage, `corpus.remove_duplicated_spans` rewrites at fixed n, and
this module is the threshold-length tier a production LLM pipeline
runs (ExactSubstr with L ~ 50): "drop any >= L-token span that occurs
verbatim elsewhere".

Semantics (exact, certifiable)
------------------------------
Lee et al. find maximal repeats with a suffix array; the distributed
reduction here is the standard L-gram one: a position is DUPLICATED
when the L-token window starting there occurs at >= ``min_count``
locations corpus-wide (any doc, any offset — self-repeats count, as
in ExactSubstr). Reported spans are maximal runs of tokens covered by
duplicated windows. Every true repeated span of length >= L is fully
covered (each of its L-windows repeats wherever the span does), and
every reported token sits inside SOME >= L-token window that occurs
verbatim at least twice — the same guarantee the removal step needs.
Matching is verbatim on whitespace-normalized tokens (case preserved;
tokenization collapses runs of whitespace, the catalog's shared
convention).

Scale design (why this survives 100 TB)
---------------------------------------
A naive implementation shuffles every L-token window STRING — ~L x
the corpus through the exchange (x50 at the production L). Instead:

1. **Stride-1 rolling index, hashes only.** Windows are materialized
   inside the token array (``transform`` over a ``sequence`` of
   starts, exactly `corpus.duplicated_ngram_spans`' generate) but
   only ``xxhash64(window)`` leaves the row — the pass-1 exchange
   carries (id, start, hash): ~16 bytes per position regardless of L.
2. **Bucketed collision verification, skew-proof.** Positions whose
   hash count >= min_count are candidates; both duplicate tests are
   map-side-combined GROUP-BYs joined back rather than
   count-over-partition windows, because a production boilerplate
   window can repeat billions of times and a window partition would
   funnel that key into one task (the groupBy reduces it map-side to
   one row; AQE's skew-join splits the hot probe side). Candidates
   rejoin their documents' token arrays to recompute the window
   STRING, and a second count over (hash, window) confirms true
   verbatim duplication — an xxhash64 collision can therefore never
   fabricate a duplicate; it only costs one extra string comparison
   inside a bucket. Only candidate windows' strings ever shuffle,
   and only candidate docs' token arrays re-ship (AQE turns the
   rejoin into a broadcast when the candidate set is small).
3. **Gaps-and-islands span merge.** Duplicated windows overlap at
   stride 1; merging [start, start+L-1] intervals per document is
   the same per-doc window pass `duplicated_ngram_spans` uses (plus
   adjacency: touching spans merge into one maximal span). No
   position explode on the detect path.
4. **Untouched documents never re-shuffle in the rewrite.** The
   removal path explodes positions only for DROPPED windows (bounded
   by L x duplicated windows), aggregates them into one sorted
   position array per touched document (rows <= touched docs, a tiny
   fraction of the corpus in production), and LEFT-joins that small
   side back to the token frame — AQE broadcasts it, so the corpus
   side crosses no exchange. Each touched document is rebuilt
   IN-ROW with a higher-order ``filter`` over its token array
   (O(|doc| x |drops|) comparisons, only on touched docs); an
   untouched document is a narrow ``concat_ws`` projection of the
   tokens it already holds. No corpus-wide posexplode, no
   ``collect_list`` reassembly shuffle. Keep-one-occurrence contract
   unchanged: the first (doc, start) occurrence of every duplicated
   window survives.

5. **Maintain at ingest.** :func:`exact_substr_index` /
   :func:`fold_exact_substr_index` persist the duplicate test as an
   additive (hash-pair → count, keeper-witness) index — per-batch
   indexes fold to the whole-corpus index bit-for-bit, so daily
   ingest never re-hashes old documents.
   :func:`exact_substr_spans_from_index` answers detection FROM the
   maintained index (string verification still decides, so the hash
   tier can never fabricate a duplicate), and
   :func:`exact_substr_batch_rewrite` rewrites each ARRIVING batch
   against all history without re-reading it — cross-batch duplicate
   matching is on the pair of independent 64-bit hashes (~2^-128
   false-duplicate odds per pair; a single 64-bit hash would see
   birthday collisions past ~1e9 windows), the one deliberate step
   down from string-exactness in this module, taken only where
   history text is unavailable by design.

Everything is built-in JVM expressions — zero Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from blackroad_feature_store_spark.operators.util import spread

__all__ = [
    "exact_substr_spans",
    "exact_substr_removal",
    "exact_substr_index",
    "fold_exact_substr_index",
    "exact_substr_spans_from_index",
    "exact_substr_batch_rewrite",
]


def _tokenized(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, __t tokens, __nt count): whitespace-split, empties
    dropped, case preserved (verbatim matching). NULL text coalesces
    to an empty token array so ``__nt`` is 0, not the -1 that
    ``F.size(NULL)`` returns under non-ANSI settings."""
    toks = F.coalesce(
        F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
        ),
        F.array().cast("array<string>"),
    )
    return spread(df, id_col).select(
        F.col(id_col), toks.alias("__t")
    ).withColumn("__nt", F.size("__t"))


def _window_expr(start_1b, L: int):
    """The L-token window string starting at 1-based position
    ``start_1b`` of the __t array."""
    return F.concat_ws(" ", F.slice(F.col("__t"), start_1b, L))


def _hgrams(
    base: DataFrame, L: int, id_col: str, with_h2: bool = False
) -> DataFrame:
    """Pass-1 rolling index: (id, __start 1-based, __h [, __h2]) for
    every stride-1 L-token window — only hashes leave the row, ~16
    (~24 with ``with_h2``) bytes per position regardless of L.

    ``__h2`` is a SECOND independent 64-bit hash of the same window:
    ``xxhash64(lit(1), window)`` — the constant discriminator comes
    FIRST, because Spark's multi-arg xxhash64 folds children left to
    right using the running hash as the next seed, so a leading
    ``lit(1)`` re-seeds the window hash (effective seed
    ``hashLong(1, 42)`` != the default 42) while a TRAILING
    discriminator would make ``__h2`` a pure function of ``__h``
    (index format changed in r14 accordingly; no persisted indexes
    predate the change). Paths that cannot re-verify the window
    STRING — the cross-batch test in :func:`exact_substr_batch_rewrite`,
    where history text is not re-read — match on the (h, h2) pair, so
    a false duplicate needs a simultaneous collision in both hashes
    (~2^-128 per pair: zero at any corpus size that fits on hardware).
    String-verifying paths ignore it."""
    if not with_h2:
        return base.where(F.col("__nt") >= L).select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.col("__nt") - (L - 1)),
                    lambda i: F.xxhash64(_window_expr(i, L)),
                )
            ).alias("__pos", "__h"),
        ).select(id_col, (F.col("__pos") + 1).alias("__start"), "__h")
    return base.where(F.col("__nt") >= L).select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("__nt") - (L - 1)),
                lambda i: F.struct(
                    F.xxhash64(_window_expr(i, L)).alias("__h"),
                    # Discriminator FIRST: Spark's multi-arg xxhash64
                    # chains children with the running hash as seed, so
                    # xxhash64(window, lit(1)) == hashLong(1, seed=__h)
                    # — a pure function of __h whose collisions track
                    # __h's exactly. xxhash64(lit(1), window) hashes the
                    # window under a DIFFERENT effective seed
                    # (hashLong(1, 42)), giving an independent hash.
                    F.xxhash64(F.lit(1), _window_expr(i, L)).alias(
                        "__h2"
                    ),
                ),
            )
        ).alias("__pos", "__hs"),
    ).select(
        id_col,
        (F.col("__pos") + 1).alias("__start"),
        F.col("__hs.__h").alias("__h"),
        F.col("__hs.__h2").alias("__h2"),
    )


def _verified_windows(
    base: DataFrame,
    L: int,
    id_col: str,
    min_count: int,
    dup_h: DataFrame | None = None,
) -> DataFrame:
    """Duplicated L-token windows, hash-indexed then string-verified:
    (id, __start, __end, __h, __gram, __keeper) — 1-based inclusive
    token positions; ``__keeper`` marks the first (doc, start)
    occurrence of each verified window (the removal path's
    keep-one-occurrence witness).

    Both duplicate tests are map-side-combined GROUP-BYs joined back,
    NOT count-over-partition windows: a production boilerplate window
    can repeat billions of times, and ``Window.partitionBy(hash)``
    would funnel that entire key into ONE task, while the groupBy
    reduces it map-side to a single row and AQE's skew-join splits
    the join probe of the hot key across tasks. Window strings never
    shuffle corpus-wide: pass 1 exchanges only (id, start, hash);
    only candidate rows' strings enter the verification join, and
    candidate docs' token arrays re-ship once (AQE broadcasts the
    rejoin when candidates are few).

    ``dup_h``, when given, replaces the in-pass hash count with a
    precomputed duplicated-hash frame (one ``__h`` column) — the
    maintained-index path. String verification still recounts within
    ``base``, so a too-wide ``dup_h`` only costs extra candidate
    comparisons, never a fabricated duplicate."""
    hgrams = _hgrams(base, L, id_col)
    if dup_h is None:
        dup_h = (
            hgrams.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__hc"))
            .where(F.col("__hc") >= min_count)
            .select("__h")
        )
    cand = hgrams.join(dup_h.select("__h"), "__h")
    # collision verification: recompute the window STRING for
    # candidates only and re-count over the exact (hash, string) pair
    # — an xxhash64 collision can therefore never fabricate a
    # duplicate, it only costs one string comparison in a bucket
    cand_str = cand.join(base.select(id_col, "__t"), id_col).select(
        id_col,
        "__start",
        "__h",
        _window_expr(F.col("__start"), L).alias("__gram"),
    )
    stats = (
        cand_str.groupBy("__h", "__gram")
        .agg(
            F.count(F.lit(1)).alias("__vc"),
            F.min(F.struct(F.col(id_col), F.col("__start"))).alias(
                "__keep"
            ),
        )
        .where(F.col("__vc") >= min_count)
        .select("__h", "__gram", "__keep")
    )
    return cand_str.join(stats, ["__h", "__gram"]).select(
        id_col,
        "__start",
        (F.col("__start") + (L - 1)).alias("__end"),
        "__h",
        "__gram",
        (
            F.col("__keep")
            == F.struct(F.col(id_col), F.col("__start"))
        ).alias("__keeper"),
    )


def exact_substr_spans(
    df: DataFrame,
    L: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated token spans of length >= ``L``: one row per
    (document, span) — ``(id_col, span_start, span_end,
    span_tokens)`` with 1-based inclusive token positions. Documents
    with no duplicated span produce no rows. ``min_count`` is the
    corpus-wide occurrence threshold (default 2 = "appears verbatim
    elsewhere", counting self-repeats like ExactSubstr).
    """
    if L < 1:
        raise ValueError(f"L must be >= 1, got {L}")
    base = _tokenized(df, id_col, text_col)
    dwin = _verified_windows(base, L, id_col, min_count)
    return _merge_spans(dwin, id_col)


def _merge_spans(dwin: DataFrame, id_col: str) -> DataFrame:
    """Gaps-and-islands with ADJACENCY merge: intervals [s, s+L-1] and
    [s', s'+L-1] merge when s' <= prev_end + 1, so touching covered
    regions report as ONE maximal span."""
    wd = Window.partitionBy(id_col).orderBy("__start")
    prev_end = F.max("__end").over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = dwin.withColumn(
        "__new_island",
        F.when(
            prev_end.isNull() | (F.col("__start") > prev_end + 1), 1
        ).otherwise(0),
    ).withColumn("__island", F.sum("__new_island").over(wd))
    return spans.groupBy(id_col, "__island").agg(
        F.min("__start").alias("span_start"),
        F.max("__end").alias("span_end"),
        (F.max("__end") - F.min("__start") + 1)
        .cast("bigint")
        .alias("span_tokens"),
    ).drop("__island")


def exact_substr_index(
    df: DataFrame,
    L: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The maintain-at-ingest form of the ExactSubstr duplicate test:
    one row per distinct window HASH over every stride-1 L-token
    window of ``df`` — ``(__h, n, keep_id, keep_start)`` where ``n``
    is the occurrence count and (keep_id, keep_start) the first
    (min id, then min start) occurrence — the keep-one-occurrence
    witness. ~16 bytes/position through the exchange at any L (only
    hashes leave the row), and the whole frame is one
    map-side-combined groupBy.

    The index is a FOLD MONOID (see :func:`fold_exact_substr_index`):
    per-batch indexes over a partition of the corpus fold to exactly
    the whole-corpus index, so a daily-ingest pipeline maintains it
    additively without re-reading old documents — the exact-tier
    sibling of `dedup.incremental_candidate_pairs`.

    Rows are keyed on the PAIR of independent 64-bit hashes
    (``__h``, ``__h2``): paths that can re-read the corpus
    (:func:`exact_substr_spans_from_index`) still re-verify candidate
    windows on the exact STRING — a collision can widen the candidate
    set but never fabricate a duplicate — while the ingest-time
    rewrite (:func:`exact_substr_batch_rewrite`), which cannot
    re-read history text, matches on the pair: a false cross-batch
    duplicate needs a simultaneous collision in both hashes (~2^-128
    per pair — zero at any real corpus size, where a single 64-bit
    hash would see birthday collisions past ~10^9 windows)."""
    if L < 1:
        raise ValueError(f"L must be >= 1, got {L}")
    base = _tokenized(df, id_col, text_col)
    return (
        _hgrams(base, L, id_col, with_h2=True)
        .groupBy("__h", "__h2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min(F.struct(F.col(id_col), F.col("__start"))).alias(
                "__keep"
            ),
        )
        .select(
            "__h",
            "__h2",
            "n",
            F.col("__keep")[id_col].alias("keep_id"),
            F.col("__keep")["__start"].alias("keep_start"),
        )
    )


def fold_exact_substr_index(
    index: DataFrame, delta: DataFrame
) -> DataFrame:
    """Fold a new batch's window index into the persisted one:
    counts add, the keeper witness is the struct-min of the two —
    commutative and associative, so ANY fold order over per-batch
    indexes equals :func:`exact_substr_index` over the union corpus
    bit-for-bit (each document must arrive whole in one batch, the
    same contract every ingest gate here states)."""
    cols = ["__h", "__h2", "n", "keep_id", "keep_start"]
    return fold_index_rows(
        index.select(cols).unionByName(delta.select(cols))
    )


def fold_index_rows(rows: DataFrame) -> DataFrame:
    """:func:`fold_exact_substr_index` over ANY number of index
    partials at once: ``rows`` is their union-all, folded by one
    aggregate (one shuffle however many partials)."""
    return (
        rows.groupBy("__h", "__h2")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.min(F.struct("keep_id", "keep_start")).alias("__keep"),
        )
        .select(
            "__h",
            "__h2",
            "n",
            F.col("__keep")["keep_id"].alias("keep_id"),
            F.col("__keep")["keep_start"].alias("keep_start"),
        )
    )


def fold_exact_substr_counts(
    index: DataFrame, delta: DataFrame
) -> DataFrame:
    """The KEEPERLESS fold monoid — counts only, ``(__h, __h2, n)``.
    Same additivity contract as :func:`fold_exact_substr_index` minus
    the keeper witness: sufficient for every consumer that matches on
    counts (:func:`exact_substr_batch_rewrite`,
    :func:`exact_substr_spans_from_index`), because under monotone-id
    arrival the keeper of any window ever seen in history is FIXED in
    history — the rewrite never reads keeper values, only "was this
    window seen, how often". Inputs may carry extra columns (a full
    witness index folds fine); the output never has them."""
    cols = ["__h", "__h2", "n"]
    return fold_count_rows(index.select(cols).unionByName(delta.select(cols)))


def fold_count_rows(rows: DataFrame) -> DataFrame:
    """:func:`fold_exact_substr_counts` over the union-all of any
    number of keeperless partials, in one aggregate."""
    return rows.groupBy("__h", "__h2").agg(
        F.sum("n").cast("long").alias("n")
    )


def exact_substr_rewrite_tier(index: DataFrame) -> DataFrame:
    """The PERSISTED-FOOTPRINT projection of a maintained index for
    the ingest-rewrite path: ``(__h, __h2, n)`` — the keeper witness
    dropped (VERDICT r14 ask #5).

    Exact cross-batch contract:

    * ``n == 1`` rows MUST be retained. A history singleton witnesses
      a duplicate the moment ONE more occurrence arrives (history
      ``n=1`` + batch ``n=1`` reaches ``min_count=2``); pruning
      singletons from ingest history silently loses every
      first-repeat detection. Only the keeper COLUMNS are redundant
      here: monotone-id arrival fixes the keeper of any
      previously-seen window in history (the batch occurrence can
      never outrank it), and a batch-internal keeper is computed from
      the batch itself — so the rewrite consumes counts only.
    * This tier folds with :func:`fold_exact_substr_counts` and stays
      exact for :func:`exact_substr_batch_rewrite` and
      :func:`exact_substr_spans_from_index`; it does NOT answer
      keeper/canonical-occurrence queries — keep the full index where
      those are needed.

    Raw-row footprint: 24 B/window vs 40 B with the witness; see
    ``tools/probe_scale.py --exactsubstr-footprint`` for measured
    parquet bytes/position."""
    return index.select("__h", "__h2", "n")


def exact_substr_dup_tier(
    index: DataFrame, min_count: int = 2
) -> DataFrame:
    """The singleton-PRUNED index tier: only rows with
    ``n >= min_count`` (VERDICT r14 ask #5 — "drop count==1 hash
    rows", with the contract made exact):

    * EXACT for retrospective span/detect queries over a corpus the
      index already covers (:func:`exact_substr_spans_from_index`
      consumes nothing below ``min_count`` — its candidate filter is
      ``n >= min_count``, so pruned == full, row-for-row; certified
      by the ``dedup_exact_substr_pruned`` catalog twin).
    * NOT valid as cross-batch INGEST history: a pruned singleton
      can no longer witness a first repeat arriving in a later batch
      (see :func:`exact_substr_rewrite_tier`, which is the
      footprint-reduced tier that IS ingest-safe).

    Natural text is hapax-dominated, so this tier is typically a
    small fraction of the full index — the right artifact to ship to
    a detect-only consumer."""
    return index.where(F.col("n") >= min_count)


def exact_substr_spans_from_index(
    df: DataFrame,
    index: DataFrame,
    L: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """:func:`exact_substr_spans` answered FROM a maintained index:
    the corpus-wide hash count comes from ``index`` (built/folded at
    the same ``L``) instead of an in-pass groupBy, skipping the
    full-corpus hash exchange — the payoff of maintaining the index
    at ingest. ``df`` must be exactly the corpus the index was
    maintained over; the output then equals
    ``exact_substr_spans(df, L, ...)`` row-for-row, because the
    index's hash counts equal the in-pass counts and the bucketed
    STRING verification (which still runs, inside ``df``) decides
    identically. An index over a SUPERSET of ``df`` only widens the
    candidate set (string verification rejects the extras); an index
    that UNDER-counts ``df`` loses spans — certify with a
    fold-vs-recompute check at maintenance time, as
    `stream_exec_exact_substr_index` does in-query."""
    if L < 1:
        raise ValueError(f"L must be >= 1, got {L}")
    base = _tokenized(df, id_col, text_col)
    # distinct: two (h, h2) index rows can share __h (a 64-bit
    # collision); a duplicated probe row would double-count the
    # string-verification tallies downstream
    dup_h = (
        index.where(F.col("n") >= min_count).select("__h").distinct()
    )
    dwin = _verified_windows(base, L, id_col, min_count, dup_h=dup_h)
    return _merge_spans(dwin, id_col)


def exact_substr_removal(
    df: DataFrame,
    L: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """The ExactSubstr rewrite (remove all but ONE occurrence): for
    every duplicated L-token window the first (doc, start) occurrence
    is the keeper; tokens covered exclusively by non-keeper duplicated
    windows are deleted and each document is reassembled from its
    remaining tokens in order (whitespace normalized to single
    spaces). Returns ``(id_col, text, n_tokens, n_removed)`` — one
    row per input document; ``text`` may become empty for documents
    that were pure boilerplate.

    Keeper protection is per position (`remove_duplicated_spans`'
    contract): a token inside ANY keeper window of its document
    survives, so exactly one full copy of every repeated region
    remains.

    Scale shape: dropped positions aggregate to ONE sorted int array
    per touched document; that small frame LEFT-joins to the token
    frame (AQE broadcast — the corpus side crosses no exchange) and
    each document is rebuilt in-row with a higher-order ``filter``.
    Untouched documents (the vast majority in production) are a
    narrow ``concat_ws`` projection — they never posexplode, never
    enter a ``collect_list`` aggregate, never re-shuffle."""
    if L < 1:
        raise ValueError(f"L must be >= 1, got {L}")
    base = _tokenized(df, id_col, text_col)
    marked = _verified_windows(base, L, id_col, min_count)
    keep_cov = (
        marked.where(F.col("__keeper"))
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("__start"), F.col("__end"))
            ).alias("__p"),
        )
        .distinct()
    )
    drop_pos = (
        marked.where(~F.col("__keeper"))
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("__start"), F.col("__end"))
            ).alias("__p"),
        )
        .distinct()
        .join(keep_cov, [id_col, "__p"], "left_anti")
    )
    return _rebuild_from_drops(base, drop_pos, id_col)


def _rebuild_from_drops(
    base: DataFrame, drop_pos: DataFrame, id_col: str
) -> DataFrame:
    """Reassemble documents minus their dropped positions, in-row:
    one sorted dropped-position array per TOUCHED document — rows
    <= touched docs; the corpus-side token frame left-joins this
    small side (AQE broadcast) instead of posexploding every token
    of every document into a collect_list reassembly shuffle.
    ``base`` is `_tokenized` output; ``drop_pos`` carries
    (id_col, __p 1-based). Returns (id_col, text, n_tokens,
    n_removed)."""
    drops = drop_pos.groupBy(id_col).agg(
        F.array_sort(F.collect_set("__p")).alias("__drops")
    )
    untouched = F.col("__drops").isNull()
    kept_toks = F.filter(
        F.col("__t"),
        lambda _tok, i: ~F.array_contains(F.col("__drops"), i + 1),
    )
    return base.join(drops, id_col, "left").select(
        id_col,
        F.when(untouched, F.concat_ws(" ", F.col("__t")))
        .otherwise(F.concat_ws(" ", kept_toks))
        .alias("text"),
        F.col("__nt").alias("n_tokens"),
        F.coalesce(F.size("__drops"), F.lit(0))
        .cast("bigint")
        .alias("n_removed"),
    )


def exact_substr_batch_rewrite(
    batch: DataFrame,
    history_index: DataFrame,
    L: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """The ExactSubstr rewrite AT INGEST: rewrite a NEW batch of
    documents against all previously ingested history using only the
    maintained index — history text is never re-read. Returns
    ``(rewritten, delta_index)``; the caller appends the batch by
    folding ``delta_index`` into ``history_index``
    (:func:`fold_exact_substr_index`) for the next increment — the
    removal-tier sibling of `dedup.incremental_candidate_pairs`'
    ``(pairs, new_sigs)`` contract. Cost per increment is
    O(|batch| + index-join collisions), independent of corpus size.

    Exactness contract (MOMENT-OF-INGEST semantics): provided (a)
    ``history_index`` is the index over exactly the documents
    ingested so far, and (b) ids are MONOTONE with arrival (every
    batch id > every history id — the same arrival-order contract the
    other ingest paths state), the output equals
    ``exact_substr_removal(history ∪ batch)`` restricted to the
    batch's documents, row-for-row, AT THE MOMENT OF INGEST:
    occurrence counts are ``history n + batch n`` by the fold monoid,
    and the keep-first-occurrence keeper is the history keeper
    whenever the window was ever seen before (history ids are
    smaller), else the batch's first (doc, start).

    This is deliberately NOT the retrospective whole-corpus rewrite:
    a duplicate arriving in a LATER batch cannot reach back into
    already-emitted documents — neither to remove a span that only
    became duplicated later (its first occurrence is the keeper and
    survives by construction), nor to PROTECT a position that the
    end-of-time rewrite would have spared because a future repeat
    turns one of its windows into a keeper. Already-shipped training
    shards are immutable in production, so moment-of-ingest is the
    semantics an ingest pipeline actually has; run the batch
    :func:`exact_substr_removal` over the full corpus when the
    retrospective answer is wanted.

    Duplicate matching here is on the INDEPENDENT HASH PAIR
    (``__h``, ``__h2``), not the verified string: history text is
    not available to re-verify, which is the one semantic difference
    from :func:`exact_substr_removal` (string-exact). A false
    duplicate therefore needs a simultaneous collision in two
    independent 64-bit hashes of the same window — ~2^-128 per pair,
    i.e. zero at any corpus size that fits on hardware (a single
    64-bit hash would see real birthday collisions past ~10^9
    windows, which is why the index carries the pair).

    Scale shape: one map-side-combined groupBy over the batch's
    window pairs (count + first-occurrence witness), one join of
    those pairs against the index (AQE broadcasts the batch side
    when small; the index side is pre-reduced to one row per
    distinct window), and the same bounded drop-position explode +
    in-row rebuild as the batch rewrite — untouched batch documents
    never enter an exchange. Zero Python UDFs."""
    if L < 1:
        raise ValueError(f"L must be >= 1, got {L}")
    base = _tokenized(batch, id_col, text_col)
    bwin = _hgrams(base, L, id_col, with_h2=True)
    # localCheckpoint: bstats feeds BOTH returned frames (the marked
    # positions inside `rewritten` and the `delta` index), which
    # callers evaluate as separate actions — without materialization
    # the batch's full window hash + groupBy pass runs twice per
    # ingest batch (VERDICT r13 ask #5).
    #
    # r17 (VERDICT r16 ask #2): the aggregation ALSO carries each
    # pair's occurrence positions, but only for pairs repeated WITHIN
    # the batch (``__bn >= 2`` — a singleton pair's one occurrence IS
    # ``__bkeep``, so storing its list would be pure duplication).
    # That makes this checkpoint the ONLY evaluation of the
    # tokenize + window-hash pass per batch: the marked-position
    # frame downstream is rebuilt from (``__bkeep`` | ``__occs``)
    # instead of re-joining against a second ``_hgrams(base)``
    # subtree — previously the rewrite action re-hashed every window
    # of the batch a second time (measured 1.1-1.4 s/batch at sf0.1,
    # the dominant per-batch cost of the ingest family). Scale trade,
    # stated: the groupBy's exchange now ships the positions of
    # batch-REPEATED windows (bounded by in-batch duplication; a
    # hapax-dominated batch ships ~nothing extra) instead of the
    # hash pass running twice over the full batch text — strictly
    # fewer bytes than the per-position ``bwin`` rows that already
    # crossed this exchange as aggregation input.
    bstats = (
        bwin.groupBy("__h", "__h2")
        .agg(
            F.count(F.lit(1)).alias("__bn"),
            F.min(F.struct(F.col(id_col), F.col("__start"))).alias(
                "__bkeep"
            ),
            F.collect_list(
                F.struct(F.col(id_col), F.col("__start"))
            ).alias("__occs"),
        )
        .select(
            "__h",
            "__h2",
            "__bn",
            "__bkeep",
            F.when(F.col("__bn") >= 2, F.col("__occs")).alias("__occs"),
        )
        # lazy (r17): the caller's FIRST action (the rewrite write in
        # the ingest path) computes + persists the table; the second
        # (the delta write) reads persisted blocks — one job per
        # batch fewer than the eager form, same single evaluation.
        .localCheckpoint(eager=False)
    )
    hist = history_index.select(
        "__h", "__h2", F.col("n").alias("__hn")
    )
    # Duplicated-pair positions WITHOUT re-evaluating _hgrams: a pair
    # is duplicated iff batch count + history count reaches min_count;
    # its batch occurrences are ``__occs`` when batch-repeated, else
    # exactly ``__bkeep``. Exploding that union yields the identical
    # (id, start) multiset the old bwin-join produced, row for row.
    marked = (
        bstats.join(hist, ["__h", "__h2"], "left")
        .where(
            (F.col("__bn") + F.coalesce(F.col("__hn"), F.lit(0)))
            >= min_count
        )
        .select(
            "__bkeep",
            "__hn",
            F.explode(
                F.coalesce(F.col("__occs"), F.array(F.col("__bkeep")))
            ).alias("__o"),
        )
        .select(
            F.col("__o")[id_col].alias(id_col),
            F.col("__o")["__start"].alias("__start"),
            (F.col("__o")["__start"] + (L - 1)).alias("__end"),
            (
                F.col("__hn").isNull()
                & (F.col("__o") == F.col("__bkeep"))
            ).alias("__keeper"),
        )
    )
    keep_cov = (
        marked.where(F.col("__keeper"))
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("__start"), F.col("__end"))
            ).alias("__p"),
        )
        .distinct()
    )
    drop_pos = (
        marked.where(~F.col("__keeper"))
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("__start"), F.col("__end"))
            ).alias("__p"),
        )
        .distinct()
        .join(keep_cov, [id_col, "__p"], "left_anti")
    )
    rewritten = _rebuild_from_drops(base, drop_pos, id_col)
    # bstats is already one row per distinct (h, h2) pair — it IS the
    # batch's delta index (__occs projected away: positions are a
    # rewrite-internal carrier, never part of the persisted index)
    delta = bstats.select(
        "__h",
        "__h2",
        F.col("__bn").cast("long").alias("n"),
        F.col("__bkeep")[id_col].alias("keep_id"),
        F.col("__bkeep")["__start"].alias("keep_start"),
    )
    return rewritten, delta

"""Pins for streaming/ingest.py::exact_substr_ingest_batch — the
replay-safety and monotone-arrival contracts of ExactSubstr removal at
ingest (ADVICE r13 medium + low).

The crash model: foreachBatch writes the batch's output + delta-index
partial, then the process dies BEFORE the streaming checkpoint
commits. The source replays the same batch; the replayed run finds the
batch's own partial already on disk. History must exclude it — folding
it would double every window count of the batch, so even batch-unique
windows read as duplicated and drop with no keeper protection."""

import glob
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from blackroad_feature_store_spark.operators.exactsubstr import (
    exact_substr_removal,
)
from blackroad_feature_store_spark.streaming.ingest import (
    exact_substr_ingest_batch,
    fold_exact_substr_partials,
)

L = 3


def _df(spark, docs):
    return spark.createDataFrame(docs, "doc_id bigint, text string")


# batch 0: doc 1 has an internal repeat (a b c twice -> duplicated at
# ingest of batch 0); doc 2 is unique text.
BATCH0 = [
    (1, "a b c x a b c"),
    (2, "p q r s t"),
]
# batch 1: doc 3 repeats batch-0 text (cross-batch duplicate of
# "p q r s t"), doc 4 is batch-unique — the replay bug's victim: with
# doubled history counts it would be marked duplicated and dropped
# with no keeper.
BATCH1 = [
    (3, "p q r s t"),
    (4, "u v w x y z"),
]


def _out_rows(spark, out_store):
    return {
        (r.doc_id, r.text, r.n_tokens, r.n_removed)
        for r in spark.read.parquet(out_store).collect()
    }


def _run(spark, batches, base, replay=()):
    """Drive exact_substr_ingest_batch over batches; for ids in
    ``replay``, run the batch twice (crash-after-write model: the
    partial and output from the first attempt are on disk when the
    second attempt runs)."""
    idx, out = f"{base}/idx", f"{base}/out"
    for bid, docs in enumerate(batches):
        exact_substr_ingest_batch(_df(spark, docs), bid, idx, out, L=L)
        if bid in replay:
            exact_substr_ingest_batch(
                _df(spark, docs), bid, idx, out, L=L
            )
    return idx, out


@pytest.fixture()
def base():
    d = tempfile.mkdtemp(prefix="xs_ingest_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_clean_run_matches_moment_of_ingest_semantics(spark, base):
    """Baseline: batch 0's output is the one-shot removal over batch 0;
    batch 1's output is the one-shot removal over batch0 ∪ batch1
    restricted to batch 1's docs (moment-of-ingest contract)."""
    _, out = _run(spark, [BATCH0, BATCH1], base)
    got = _out_rows(spark, out)

    want0 = {
        (r.doc_id, r.text, r.n_tokens, r.n_removed)
        for r in exact_substr_removal(_df(spark, BATCH0), L=L).collect()
    }
    want1 = {
        (r.doc_id, r.text, r.n_tokens, r.n_removed)
        for r in exact_substr_removal(
            _df(spark, BATCH0 + BATCH1), L=L
        ).collect()
        if r.doc_id in {3, 4}
    }
    assert got == want0 | want1
    # the cross-batch duplicate was removed, the unique doc untouched
    by_id = {r[0]: r for r in got}
    assert by_id[3][3] == 5  # doc 3 fully deduplicated against doc 2
    assert by_id[4][3] == 0  # doc 4 untouched


@pytest.mark.parametrize("replay_bid", [0, 1])
def test_replay_after_crash_is_idempotent(spark, base, replay_bid):
    """ADVICE r13 (medium) pin: replaying a batch whose partial is
    already on disk produces bit-identical output — history folds only
    partials with id < batch_id, so the replay never sees its own
    delta. Before the fix, the replayed batch saw doubled counts:
    every window (even batch-unique ones) read as duplicated with a
    non-null history count, so NO keeper survived and whole documents
    were emptied."""
    clean_base = tempfile.mkdtemp(prefix="xs_ingest_clean_")
    try:
        _, clean_out = _run(spark, [BATCH0, BATCH1], clean_base)
        want = _out_rows(spark, clean_out)
        idx, out = _run(
            spark, [BATCH0, BATCH1], base, replay={replay_bid}
        )
        assert _out_rows(spark, out) == want
        # delta partials are overwrite-idempotent too: the folded
        # index after replay equals the clean run's fold
        clean_idx = f"{clean_base}/idx"
        a = fold_exact_substr_partials(spark, idx)
        b = fold_exact_substr_partials(spark, clean_idx)
        cols = ["__h", "__h2", "n", "keep_id", "keep_start"]
        assert sorted(map(tuple, a.select(cols).collect())) == sorted(
            map(tuple, b.select(cols).collect())
        )
    finally:
        shutil.rmtree(clean_base, ignore_errors=True)


def test_out_of_order_batches_raise(spark, base):
    """ADVICE r13 (low) pin: a source that delivers batches out of id
    order (mtime tie broken the wrong way) violates the monotone-id
    arrival precondition and must fail loudly, not silently certify a
    diverged rewrite."""
    exact_substr_ingest_batch(
        _df(spark, BATCH1), 0, f"{base}/idx", f"{base}/out", L=L
    )
    with pytest.raises(AssertionError, match="monotone-id arrival"):
        exact_substr_ingest_batch(
            _df(spark, BATCH0), 1, f"{base}/idx", f"{base}/out", L=L
        )


def test_out_of_order_batch_in_keeper_gap_raises(spark, base):
    """ADVICE r14 (low) pin: keeper ids are per-window MINIMA, so a
    keeper-based gate understates the true max ingested id. Batch 0
    ingests docs 1 and 50 with IDENTICAL text — every window's keeper
    is doc 1, so max keeper = 1 while the true max ingested id is 50.
    An out-of-order batch carrying doc 30 sits in that gap: the old
    keeper-footer gate passed it silently; the sidecar gate (true
    per-batch max(doc_id)) must raise."""
    dup = "a b c d e f g"
    exact_substr_ingest_batch(
        _df(spark, [(1, dup), (50, dup)]),
        0,
        f"{base}/idx",
        f"{base}/out",
        L=L,
    )
    # sanity: the keeper-gap premise holds (all keepers are doc 1)
    hist = fold_exact_substr_partials(spark, f"{base}/idx")
    assert hist.agg(F.max("keep_id")).first()[0] == 1
    with pytest.raises(AssertionError, match="monotone-id arrival"):
        exact_substr_ingest_batch(
            _df(spark, [(30, "h i j k l m")]),
            1,
            f"{base}/idx",
            f"{base}/out",
            L=L,
        )


def test_legacy_store_without_sidecar_keeps_keeper_gate(spark, base):
    """Upgraded stores: partials written before the sidecar existed
    still gate at the old keeper-footer strength — deleting the
    sidecar must not disarm the tripwire entirely."""
    import shutil as _sh

    exact_substr_ingest_batch(
        _df(spark, BATCH1), 0, f"{base}/idx", f"{base}/out", L=L
    )
    _sh.rmtree(f"{base}/idx/_maxid")
    with pytest.raises(AssertionError, match="monotone-id arrival"):
        exact_substr_ingest_batch(
            _df(spark, BATCH0), 1, f"{base}/idx", f"{base}/out", L=L
        )


def test_scheme_uri_store_works_end_to_end(spark, base):
    """VERDICT r15 ask #5: scheme'd store URIs are a real capability
    now (Hadoop FileSystem API — ``streaming/fsio.py``), replacing the
    r14 up-front raise. A ``file://``-scheme store must behave
    byte-identically to a plain-path store — and is invisible to
    os-level glob, proving no discovery path fell back to the local
    fast path silently."""
    import glob as _g

    uri = f"file://{base}/scheme"
    for bid, docs in enumerate([BATCH0, BATCH1]):
        exact_substr_ingest_batch(
            _df(spark, docs), bid, f"{uri}/idx", f"{uri}/out", L=L
        )
    got = _out_rows(spark, f"{uri}/out")
    _, plain_out = _run(spark, [BATCH0, BATCH1], f"{base}/plain")
    assert got == _out_rows(spark, plain_out)
    # the store really landed under the URI (and glob can't see URIs)
    assert _g.glob(f"{base}/scheme/idx/batch_id=*")
    assert not _g.glob(f"{uri}/idx/batch_id=*")
    # gate: sidecars written through the Hadoop stream, read back via
    # the one-job distributed scan — out-of-order arrival still raises
    with pytest.raises(AssertionError, match="monotone-id arrival"):
        exact_substr_ingest_batch(
            _df(spark, BATCH0), 2, f"{uri}/idx", f"{uri}/out", L=L
        )


def test_scheme_uri_crash_replay_and_compaction(spark, base):
    """The replay-safety and compaction contracts hold on a scheme'd
    store: a crash-replayed batch overwrites its own partial (history
    never double-counts), in-stream compaction folds + retires through
    the Hadoop FS API with the marker flipped by an atomic OVERWRITE
    rename, and the post-compaction gate stays armed."""
    from blackroad_feature_store_spark.streaming.ingest import (
        compact_exact_substr_partials,
    )

    uri = f"file://{base}/crash"
    idx, out = f"{uri}/idx", f"{uri}/out"
    exact_substr_ingest_batch(_df(spark, BATCH0), 0, idx, out, L=L)
    # crash model: batch 1 lands, checkpoint never commits, replayed
    exact_substr_ingest_batch(_df(spark, BATCH1), 1, idx, out, L=L)
    exact_substr_ingest_batch(_df(spark, BATCH1), 1, idx, out, L=L)
    want = {
        (r.doc_id, r.text, r.n_tokens, r.n_removed)
        for r in exact_substr_removal(
            _df(spark, BATCH0 + BATCH1), L=L
        ).collect()
        if r.doc_id in {3, 4}
    }
    got = {
        t for t in _out_rows(spark, out) if t[0] in {3, 4}
    }
    assert got == want
    compact_exact_substr_partials(spark, idx, 0)  # retire batch 0
    import glob as _g

    assert not _g.glob(f"{base}/crash/idx/batch_id=0")  # retired
    assert _g.glob(f"{base}/crash/idx/compacted/floor=0/*")
    # floor marker readable through the store FS, gate still armed
    with pytest.raises(AssertionError, match="monotone-id arrival"):
        exact_substr_ingest_batch(
            _df(spark, [(0, "z z z q q q")]), 2, idx, out, L=L
        )


def test_mocked_remote_viewfs_store(spark, base):
    """A genuinely non-local scheme (``viewfs://`` mounted over a temp
    dir — Hadoop's client-side mount table) drives every store
    operation through the generic Hadoop path: discovery, sidecar
    stream write, one-job gate scan, compaction fold/retire, and the
    FileContext OVERWRITE marker flip."""
    from blackroad_feature_store_spark.streaming.ingest import (
        compact_exact_substr_partials,
        fold_exact_substr_partials,
    )

    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.xsmock.link./store", f"file://{base}/real"
    )
    uri = "viewfs://xsmock/store"
    idx, out = f"{uri}/idx", f"{uri}/out"
    for bid, docs in enumerate([BATCH0, BATCH1]):
        exact_substr_ingest_batch(_df(spark, docs), bid, idx, out, L=L)
    got = _out_rows(spark, out)
    _, plain_out = _run(spark, [BATCH0, BATCH1], f"{base}/plain2")
    assert got == _out_rows(spark, plain_out)
    compact_exact_substr_partials(spark, idx, 0, witness=False)
    import glob as _g

    assert not _g.glob(f"{base}/real/idx/batch_id=0")
    # post-compaction history fold reads snapshot + live partial
    hist = fold_exact_substr_partials(spark, idx, before_batch_id=2)
    assert hist is not None and "keep_id" not in hist.columns
    with pytest.raises(AssertionError, match="monotone-id arrival"):
        exact_substr_ingest_batch(
            _df(spark, [(0, "z z z q q q")]), 2, idx, out, L=L
        )


def test_history_fold_excludes_current_and_later_batches(spark, base):
    """fold_exact_substr_partials(before_batch_id=N) folds exactly the
    partials with id < N — including numerically (not lexically)
    parsed ids past 9."""
    idx = f"{base}/idx"
    for bid, docs in enumerate([BATCH0, BATCH1]):
        exact_substr_ingest_batch(
            _df(spark, docs), bid, idx, f"{base}/out", L=L
        )
    # drop a later partial under id=10 to exercise numeric ordering
    spark.read.parquet(f"{idx}/batch_id=1").write.parquet(
        f"{idx}/batch_id=10"
    )
    assert fold_exact_substr_partials(spark, idx, before_batch_id=0) is None
    h1 = fold_exact_substr_partials(spark, idx, before_batch_id=1)
    assert {r["keep_id"] for r in h1.select("keep_id").collect()} <= {1, 2}
    h2 = fold_exact_substr_partials(spark, idx, before_batch_id=2)
    n_h2 = h2.agg(F.sum("n")).first()[0]
    full = fold_exact_substr_partials(spark, idx)  # no bound: all 3
    assert full.agg(F.sum("n")).first()[0] > n_h2


# ---------------------------------------------------------------------------
# Compaction (VERDICT r14 ask #5)
# ---------------------------------------------------------------------------

BATCH2 = [(100, "a b c x a b c"), (101, "q w e r t y u")]
BATCH3 = [(200, "p q r s t"), (201, "a b c d e f g h")]
ALL4 = [BATCH0, BATCH1, BATCH2, BATCH3]


def _run_compacting(spark, base, witness, replay=()):
    from blackroad_feature_store_spark.streaming.ingest import (
        exact_substr_ingest_batch as ing,
    )

    idx, out = f"{base}/idx", f"{base}/out"
    for bid, docs in enumerate(ALL4):
        for _ in range(2 if bid in replay else 1):
            ing(
                _df(spark, docs), bid, idx, out, L=L,
                compact_every=2, compact_witness=witness,
            )
    return idx, out


@pytest.mark.parametrize("witness", [True, False])
def test_compacted_ingest_output_matches_uncompacted(
    spark, base, witness
):
    """VERDICT r14 ask #5 pin: folding per-batch partials into a
    compacted snapshot (with or without the keeper witness) must not
    change a single rewritten byte — the rewrite consumes counts
    only, and counts fold identically through the snapshot."""
    plain_base = tempfile.mkdtemp(prefix="xs_ingest_plain_")
    try:
        _, plain_out = _run(spark, ALL4, plain_base)
        want = _out_rows(spark, plain_out)
        idx, out = _run_compacting(spark, base, witness)
        assert _out_rows(spark, out) == want
        # compaction actually happened: a floor marker exists and
        # the folded-away partials are retired
        from blackroad_feature_store_spark.streaming.ingest import (
            _index_store,
        )

        assert _index_store(spark, idx).floor() >= 1
        assert not glob.glob(f"{idx}/batch_id=0")
    finally:
        shutil.rmtree(plain_base, ignore_errors=True)


def test_compacted_fold_equals_recompute_with_witness(spark, base):
    """fold == from-scratch rebuild THROUGH the compacted snapshot:
    counts AND keeper witnesses survive compaction bit-for-bit."""
    from blackroad_feature_store_spark.operators.exactsubstr import (
        exact_substr_index,
    )

    idx, _ = _run_compacting(spark, base, witness=True)
    folded = fold_exact_substr_partials(spark, idx)
    docs = [d for b in ALL4 for d in b]
    want = exact_substr_index(_df(spark, docs), L=L)
    cols = ["__h", "__h2", "n", "keep_id", "keep_start"]
    assert sorted(map(tuple, folded.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )


def test_compacted_fold_equals_recompute_keeperless(spark, base):
    """The keeperless rewrite tier folds to exactly the recomputed
    index's counts — singletons included (they must survive: a
    history singleton witnesses a duplicate the moment a second
    occurrence arrives)."""
    from blackroad_feature_store_spark.operators.exactsubstr import (
        exact_substr_index,
        exact_substr_rewrite_tier,
    )

    idx, _ = _run_compacting(spark, base, witness=False)
    folded = fold_exact_substr_partials(spark, idx)
    assert "keep_id" not in folded.columns
    docs = [d for b in ALL4 for d in b]
    want = exact_substr_rewrite_tier(
        exact_substr_index(_df(spark, docs), L=L)
    )
    cols = ["__h", "__h2", "n"]
    got_rows = sorted(map(tuple, folded.select(cols).collect()))
    want_rows = sorted(map(tuple, want.select(cols).collect()))
    assert got_rows == want_rows
    assert any(r[2] == 1 for r in got_rows), "singletons were pruned"


@pytest.mark.parametrize("witness", [True, False])
def test_replay_after_crash_with_compaction_is_idempotent(
    spark, base, witness
):
    """Crash-replay of the batch DURING which compaction ran (batch 2
    compacts batches 0-1, then the process dies before its checkpoint
    commits): the replay folds compacted(0,1) as history — floor 1 <
    batch 2 — and rewrites identically."""
    plain_base = tempfile.mkdtemp(prefix="xs_ingest_plain_")
    try:
        _, plain_out = _run(spark, ALL4, plain_base)
        want = _out_rows(spark, plain_out)
        _, out = _run_compacting(spark, base, witness, replay={2})
        assert _out_rows(spark, out) == want
    finally:
        shutil.rmtree(plain_base, ignore_errors=True)


def test_fold_raises_when_floor_overlaps_replay_bound(spark, base):
    """The committed-batches-only contract is enforced, not just
    documented: compacting THROUGH the newest batch and then asking
    for a replay history below the floor raises instead of silently
    folding the batch's own delta into its history."""
    from blackroad_feature_store_spark.streaming.ingest import (
        compact_exact_substr_partials,
    )

    idx, out = f"{base}/idx", f"{base}/out"
    for bid, docs in enumerate([BATCH0, BATCH1]):
        exact_substr_ingest_batch(_df(spark, docs), bid, idx, out, L=L)
    compact_exact_substr_partials(spark, idx, 1)  # floor = 1
    with pytest.raises(AssertionError, match="compaction floor"):
        fold_exact_substr_partials(spark, idx, before_batch_id=1)


def test_compaction_witness_mode_is_sticky(spark, base):
    from blackroad_feature_store_spark.streaming.ingest import (
        compact_exact_substr_partials,
    )

    idx, out = f"{base}/idx", f"{base}/out"
    for bid, docs in enumerate(ALL4):
        exact_substr_ingest_batch(_df(spark, docs), bid, idx, out, L=L)
    compact_exact_substr_partials(spark, idx, 1, witness=False)
    with pytest.raises(ValueError, match="sticky"):
        compact_exact_substr_partials(spark, idx, 2, witness=True)


def test_arrival_gate_survives_compaction(spark, base):
    """The monotone-arrival gate stays armed after partials are
    retired: sidecars are never retired (exact bound), and a LEGACY
    store compacted without sidecars still trips on the compacted
    snapshot's keeper footers."""
    import shutil as _sh

    from blackroad_feature_store_spark.streaming.ingest import (
        compact_exact_substr_partials,
    )

    idx, out = f"{base}/idx", f"{base}/out"
    for bid, docs in enumerate([BATCH0, BATCH1]):
        exact_substr_ingest_batch(_df(spark, docs), bid, idx, out, L=L)
    compact_exact_substr_partials(spark, idx, 0)  # retire batch 0
    with pytest.raises(AssertionError, match="monotone-id arrival"):
        exact_substr_ingest_batch(
            _df(spark, [(0, "z z z q q q")]), 2, idx, out, L=L
        )
    # legacy: no sidecars at all, gate falls to compacted keeper max
    _sh.rmtree(f"{idx}/_maxid")
    with pytest.raises(AssertionError, match="monotone-id arrival"):
        exact_substr_ingest_batch(
            _df(spark, [(0, "z z z q q q")]), 2, idx, out, L=L
        )


def test_keeperless_compaction_synthesizes_legacy_sidecars(spark, base):
    """ADVICE r15 pin: compacting a LEGACY pre-sidecar store to the
    keeperless tier (witness=False) previously left the
    monotone-arrival tripwire silently dark — keeper footers retired,
    no sidecars, and a keeperless snapshot carries no keep_id. The
    compaction must synthesize the missing ``_maxid`` sidecars from
    the partials' keep_id footer maxima BEFORE retiring them, keeping
    the gate at exactly the legacy keeper strength."""
    import shutil as _sh

    from blackroad_feature_store_spark.streaming.ingest import (
        _history_max_ingested_id,
        compact_exact_substr_partials,
    )

    idx, out = f"{base}/idx", f"{base}/out"
    for bid, docs in enumerate([BATCH0, BATCH1]):
        exact_substr_ingest_batch(_df(spark, docs), bid, idx, out, L=L)
    _sh.rmtree(f"{idx}/_maxid")  # simulate a pre-sidecar store
    compact_exact_substr_partials(spark, idx, 1, witness=False)
    # both retired batches are sidecar-covered again
    assert {p.rsplit("=", 1)[1] for p in glob.glob(f"{idx}/_maxid/b=*")} == {
        "0",
        "1",
    }
    bound = _history_max_ingested_id(idx, 2)
    assert bound is not None and bound >= 3  # keeper ids of batch 1
    # and the gate actually trips on an out-of-order arrival
    with pytest.raises(AssertionError, match="monotone-id arrival"):
        exact_substr_ingest_batch(
            _df(spark, [(0, "z z z q q q")]), 2, idx, out, L=L
        )


def test_keeperless_compaction_warns_when_no_bound_exists(spark, base):
    """A to-fold partial with neither a sidecar nor readable keep_id
    footer stats cannot be bounded after retirement — that must warn
    loudly, never silently disarm the gate (ADVICE r15)."""
    from blackroad_feature_store_spark.streaming.ingest import (
        compact_exact_substr_partials,
    )

    idx = f"{base}/idx"
    # a hand-written keeperless partial: no keep_id column at all
    spark.createDataFrame(
        [(11, 22, 2)], "__h long, __h2 long, n long"
    ).write.parquet(f"{idx}/batch_id=0")
    with pytest.warns(RuntimeWarning, match="no readable keep_id"):
        compact_exact_substr_partials(spark, idx, 0, witness=False)

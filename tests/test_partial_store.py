"""One crash/replay/compaction pin for every batch-partial store kind
(`streaming/partials.py`), on a plain path and on a ``file://`` URI.

Each case lands batch 0 and batch 1, replays batch 1, simulates a
compaction that crashed before its marker flip (the ``floor=1``
snapshot directory written, the marker not), compacts at 1 for real,
leaves batch 2's write uncommitted while it merges and compacts past
it, and lands batch 2. After every step the store's merge must equal one
batch computation over all rows landed so far, and compaction must
retire the folded batch directories."""

import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import functions as F

from blackroad_feature_store_spark.streaming import ingest, quality, stats
from blackroad_feature_store_spark.streaming.partials import PartialStore

ROWS = [
    [("a", 1.0, 1), ("b", 2.0, 2), ("a", None, 3)],
    [("a", 3.0, 4), ("c", 7.5, 5)],
    [("b", -1.0, 6), ("a", 3.0, 7)],
]
DOCS = [
    [(1, "the quick brown fox jumps"), (2, "lorem ipsum dolor sit amet")],
    [(3, "the quick brown fox sleeps"), (4, "a b c a b c")],
    [(5, "lorem ipsum dolor sit amet"), (6, "x y z")],
]
CHECKS = [
    {"check": "not_null", "col": "v"},
    {"check": "in_range", "col": "v", "min": 0.0, "max": 5.0},
]


def _rounded(rows):
    return sorted(
        tuple(round(x, 6) if isinstance(x, float) else x for x in r)
        for r in rows
    )


@dataclass
class Kind:
    land: Callable  # (spark, rows, batch_id, path)
    merge: Callable  # (spark, path) -> comparable rows
    compact: Callable  # (spark, path, upto)
    batches: str  # where batch_id= directories live, under the store
    rows: list = None

    def __post_init__(self):
        self.rows = self.rows or ROWS


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v double, id long")


def _compact_with(monoid):
    return lambda spark, path, upto: PartialStore(
        spark, path, monoid
    ).compact(upto)


KINDS = {
    "stats": Kind(
        land=lambda spark, rows, b, path: stats.process_stats_batch(
            _df(spark, rows), b, path, ["k"], "v"
        ),
        merge=lambda spark, path: _rounded(
            stats.merge_stats(spark, path).collect()
        ),
        compact=stats.compact_stats,
        batches="batches",
    ),
    "histogram": Kind(
        land=lambda spark, rows, b, path: stats.process_hist_batch(
            _df(spark, rows), b, path, ["k"], "v", 0.0, 10.0, 4
        ),
        merge=lambda spark, path: _rounded(
            stats.merge_histogram(spark, path).collect()
        ),
        compact=_compact_with(stats.COUNTS),
        batches="batches",
    ),
    "cms": Kind(
        land=lambda spark, rows, b, path: stats.process_cms_batch(
            _df(spark, rows), b, path, "k", depth=2, width=16
        ),
        merge=lambda spark, path: _rounded(
            stats.merge_cms(spark, path).collect()
        ),
        compact=_compact_with(stats.COUNTS),
        batches="batches",
    ),
    "hll": Kind(
        land=lambda spark, rows, b, path: stats.process_hll_batch(
            _df(spark, rows), b, path, ["k"], "id"
        ),
        merge=lambda spark, path: _rounded(
            stats.merge_hll(spark, path)
            .select("k", F.hll_sketch_estimate("sketch"))
            .collect()
        ),
        compact=_compact_with(stats.SKETCH_UNION),
        batches="batches",
    ),
    "expectations": Kind(
        land=lambda spark, rows, b, path: (
            quality.process_expectations_batch(
                _df(spark, rows), b, path, CHECKS
            )
        ),
        merge=lambda spark, path: _rounded(
            quality.merge_expectations(spark, path).collect()
        ),
        compact=_compact_with(quality.EXPECTATION_COUNTS),
        batches="batches",
    ),
    "seen_keys": Kind(
        land=lambda spark, rows, b, path: (
            quality.process_unique_gate_batch(
                _df(spark, rows), b, path, "k"
            )
        ),
        merge=lambda spark, path: _rounded(
            quality.merge_expectations(spark, path).collect()
        ),
        compact=quality.compact_seen_keys,
        batches="seen/batches",
    ),
    "exact_substr_index": Kind(
        land=lambda spark, docs, b, path: ingest.exact_substr_ingest_batch(
            spark.createDataFrame(docs, "doc_id long, text string"),
            b,
            path,
            f"{path}_out",
            L=3,
        ),
        merge=lambda spark, path: _rounded(
            ingest.fold_exact_substr_partials(spark, path).collect()
        ),
        compact=ingest.compact_exact_substr_partials,
        batches="",
        rows=DOCS,
    ),
}


@pytest.mark.parametrize("scheme", ["path", "file_uri"])
@pytest.mark.parametrize("kind", sorted(KINDS))
def test_store_crash_replay_and_compaction(spark, tmp_path, kind, scheme):
    k = KINDS[kind]
    local = str(tmp_path / "store")
    path = f"file://{local}" if scheme == "file_uri" else local
    batches = os.path.join(local, k.batches)
    store_root = os.path.dirname(batches) if k.batches else local

    def reference(n):
        ref = str(tmp_path / f"ref{n}")
        k.land(spark, [r for rows in k.rows[:n] for r in rows], 0, ref)
        return k.merge(spark, ref)

    k.land(spark, k.rows[0], 0, path)
    k.land(spark, k.rows[1], 1, path)
    want = reference(2)
    assert k.merge(spark, path) == want
    k.land(spark, k.rows[1], 1, path)  # replay of batch 1
    assert k.merge(spark, path) == want

    # crash before the flip: a floor=1 snapshot that is not batch 0+1's
    # fold is on disk, the marker is not — it must stay invisible
    shutil.copytree(
        os.path.join(batches, "batch_id=0"),
        os.path.join(store_root, "compacted", "floor=1"),
    )
    assert k.merge(spark, path) == want

    k.compact(spark, path, 1)
    assert k.merge(spark, path) == want
    for b in (0, 1):
        assert not os.path.exists(os.path.join(batches, f"batch_id={b}"))
    assert os.path.exists(os.path.join(store_root, "compacted", "floor=1"))

    # batch 2's write is running, or crashed before its commit: its
    # directory holds only the committer's staging directory. A merge
    # must not count it, and a compaction past it must neither move
    # the floor onto it nor retire it
    os.makedirs(os.path.join(batches, "batch_id=2", "_temporary", "0"))
    assert k.merge(spark, path) == want
    k.compact(spark, path, 99)
    with open(os.path.join(store_root, "_compaction.json")) as f:
        assert json.load(f)["floor"] == 1
    assert k.merge(spark, path) == want

    k.land(spark, k.rows[2], 2, path)
    assert k.merge(spark, path) == reference(3)


def test_store_compacted_under_another_monoid_kind_raises(spark, tmp_path):
    """The marker records the monoid kind that compacted the store; a
    later compaction under another kind must fail before it writes,
    and a read under another kind must fail rather than fold the
    snapshot wrongly."""
    store = str(tmp_path / "stats")
    land = KINDS["stats"].land
    land(spark, ROWS[0], 0, store)
    land(spark, ROWS[1], 1, store)
    stats.compact_stats(spark, store, 0)
    want = KINDS["stats"].merge(spark, store)
    with pytest.raises(ValueError, match="compacted as a 'moments'"):
        PartialStore(spark, store, stats.COUNTS).compact(1)
    with pytest.raises(ValueError, match="compacted as a 'moments'"):
        PartialStore(spark, store, stats.COUNTS).merged()
    assert not os.path.exists(os.path.join(store, "compacted", "floor=1"))
    assert KINDS["stats"].merge(spark, store) == want


def test_corrupt_marker_raises_instead_of_dropping_the_snapshot(
    spark, tmp_path
):
    """A damaged marker must fail the read: read as "never compacted"
    the store would silently serve only the batches above the floor,
    the retired prefix gone."""
    store = str(tmp_path / "stats")
    land = KINDS["stats"].land
    land(spark, ROWS[0], 0, store)
    land(spark, ROWS[1], 1, store)
    stats.compact_stats(spark, store, 0)
    with open(os.path.join(store, "_compaction.json"), "w") as f:
        f.write('{"floor": ')
    with pytest.raises(ValueError):
        stats.merge_stats(spark, store).collect()

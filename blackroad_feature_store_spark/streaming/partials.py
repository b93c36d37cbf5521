"""The batch-partial store: the one protocol behind every incrementally
maintained streaming store — moment statistics, histograms, count-min
and HLL sketches, the expectation gates, the unique gate's seen keys,
the ExactSubstr window index and the neardup signatures.

Each micro-batch lands a MERGEABLE partial in its own directory; the
current value of the store is the fold of every live partial under the
store's monoid; compaction folds a committed prefix into one snapshot
behind an atomically-flipped marker. Layout under ``root``::

    <batches>/batch_id=<k>/  one partial per micro-batch
    compacted/floor=<k>/     fold of every batch <= k (newest only live)
    _compaction.json         the marker naming the live floor

``<batches>`` is ``root/batches`` for the stats family and the seen
keys, and ``root`` itself for the ExactSubstr index and the neardup
signatures (their historical layouts; stores written by earlier
versions keep reading).

Contracts, in one place:

* **Writes are replay-idempotent.** A batch overwrites only its own
  ``batch_id=<k>`` directory, so foreachBatch's replay after a crash
  between write and checkpoint commit re-lands identical rows instead
  of double counting.
* **Listing is metadata only.** Batch ids come from
  ``fsio.store_fs(...).child_ids`` — glob on a plain path, one
  ``listStatus`` on a scheme'd URI — never from a Spark job. A store
  that does not exist yet lists empty and reads as ``None``; every
  other read error (an unreadable partial, an unreachable filesystem)
  raises and fails the micro-batch, so a damaged store is never
  silently read as empty.
* **Live reads exclude what compaction retired or never committed.**
  The live set is the snapshot at the marker's floor plus the
  COMMITTED batches in ``(floor, below)``; a ``floor=`` directory
  written but never flipped live, a retired batch whose deletion did
  not finish, and a batch directory whose write is still running or
  crashed before its commit are invisible by construction.
* **One fold.** The live set is read as one union-all and folded by a
  single aggregate — associativity makes that equal to any chain of
  pairwise folds, at one shuffle instead of one per partial.
* **Crash-safe compaction.** Write ``compacted/floor=<upto>`` (a new
  directory; a retried write overwrites the not-yet-live one), flip
  the marker through ``fsio.write_json_atomic`` (the single commit
  point), then best-effort ``fsio.delete`` of the retired batches and
  the previous snapshot. A crash on either side of the flip leaves a
  correct store. ``upto`` is clamped to the newest COMMITTED batch id
  below the first batch directory that is not committed (from the
  listing): flipping the floor past a batch not yet written, or still
  being written, would exclude it forever when it lands below it.
* **One monoid per store.** The marker records the kind of monoid
  that compacted the store, and every later read or compaction under
  another kind raises instead of folding the snapshot wrongly. The
  first compaction of a store trusts the caller: compact a store with
  the monoid its ``process_*``/``merge_*`` pair names.

Only compact batches the stream's checkpoint has committed; the one
batch foreachBatch may replay is the last uncommitted one.

Read-consistency caveat: partial writes and post-flip deletions are
not atomic to concurrent readers — the marker makes the compaction
DECISION atomic, not the file listing. Snapshot between micro-batches
(e.g. after an ``availableNow`` drain returns) for an exact cut.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession

from blackroad_feature_store_spark.streaming.fsio import store_fs

_MARKER = "_compaction.json"


def write_batch_partition(
    df: DataFrame, batch_id: int, base_path: str
) -> None:
    """Land one batch's output by writing DIRECTLY into its own
    ``batch_id=<k>`` directory (plain ``mode("overwrite")`` on that
    directory). Replay-idempotent exactly like a dynamic partition
    overwrite: a foreachBatch replay overwrites only its own
    directory, every other batch is untouched, and readers see the
    identical partition-discovered layout (``batch_id`` inferred from
    the directory name). The dynamic form paid ~30-45 ms extra per
    batch for the staging commit + partition resolution plus two conf
    round-trips — pure overhead when the target is known statically."""
    df.write.mode("overwrite").parquet(f"{base_path}/batch_id={int(batch_id)}")


def keyed_fold(**aggs: Callable[[str], Column]) -> Callable:
    """A fold that groups by every column NOT named in ``aggs`` and
    aggregates each named value column with its function — the shape
    of every count/extremum/sketch monoid here. The key columns are
    whatever the partials carry besides the values, so a user's group
    column named like another store's metric is still a key."""

    def fold(partials: DataFrame) -> DataFrame:
        keys = [c for c in partials.columns if c not in aggs]
        return partials.groupBy(*keys).agg(
            *[f(c).alias(c) for c, f in aggs.items()]
        )

    return fold


def _drop_batch_id(partial: DataFrame) -> DataFrame:
    return partial.drop("batch_id")


def _identity(df: DataFrame) -> DataFrame:
    return df


@dataclass(frozen=True)
class Monoid:
    """How one store kind's partials combine.

    ``fold`` maps a union-all of partials to one row per key; ``kind``
    names the store kind it folds (recorded in the compaction marker).
    ``lift`` turns a batch partial — read with its ``batch_id``
    column — into fold input; ``restore`` does the same for a
    compacted snapshot. ``merge_schema`` reads the batch partials with
    parquet schema merging (every partial's footer, not one), for
    stores whose partials span schema generations. ``check``
    validates the live union before a merge."""

    fold: Callable[[DataFrame], DataFrame]
    kind: str
    lift: Callable[[DataFrame], DataFrame] = _drop_batch_id
    restore: Callable[[DataFrame], DataFrame] = _identity
    merge_schema: bool = False
    check: Callable[[DataFrame], None] | None = None


class PartialStore:
    """One batch-partial store at ``root`` (a plain path or a scheme'd
    URI) folding under ``monoid``. Construction does no I/O."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        monoid: Monoid,
        batches: str = "batches",
    ) -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        self.monoid = monoid
        self.batches = f"{self.root}/{batches}" if batches else self.root
        self.fs = store_fs(root, spark)

    # -- metadata (fsio only, never a Spark job) --

    def marker(self) -> dict:
        """The live marker's fields; ``{}`` when there is none (nothing
        compacted). A corrupt marker raises: read as "never compacted"
        it would silently drop every retired batch from the fold."""
        return self.fs.read_json(f"{self.root}/{_MARKER}") or {}

    def floor(self) -> int:
        """Highest batch id folded into the live snapshot, or -1. A
        snapshot compacted under another monoid kind raises."""
        marker = self.marker()
        kind = marker.get("kind", self.monoid.kind)
        if kind != self.monoid.kind:
            raise ValueError(
                f"partial store {self.root} was compacted as a {kind!r} "
                f"store and cannot be folded as a {self.monoid.kind!r} one"
            )
        return int(marker.get("floor", -1))

    def _committed(self, path: str) -> bool:
        """Whether the batch directory at ``path`` holds a finished
        write. A running or crashed ``mode("overwrite")`` write leaves
        the committer's ``_temporary/`` staging directory and no
        ``_SUCCESS``; a committed one leaves ``_SUCCESS``. Directories
        landed by the dynamic partition overwrite of earlier versions
        carry no ``_SUCCESS`` but were renamed into place whole, so one
        holding a data file and no staging directory counts too."""
        names = self.fs.names(path)
        return "_SUCCESS" in names or (
            "_temporary" not in names
            and any(not n.startswith(("_", ".")) for n in names)
        )

    def batch_ids(self) -> dict[int, str]:
        """Every committed ``batch_id=`` directory, id -> path."""
        return {
            b: p
            for b, p in self.fs.child_ids(self.batches, "batch_id").items()
            if self._committed(p)
        }

    def snapshot_path(self, floor: int) -> str:
        return f"{self.root}/compacted/floor={int(floor)}"

    # -- writes and reads --

    def write(self, partial: DataFrame, batch_id: int) -> None:
        write_batch_partition(partial, batch_id, self.batches)

    def _read(self, floor: int, paths: list[str]) -> DataFrame | None:
        """The union-all of the snapshot at ``floor`` (if any) and the
        batch partials at ``paths``."""
        parts = []
        if floor >= 0:
            # the live floor DIRECTORY, not the parent + a filter:
            # retirement is best-effort, so a stale snapshot of
            # another schema generation can coexist, and parent-dir
            # inference could sample it
            parts.append(
                self.monoid.restore(
                    self.spark.read.parquet(self.snapshot_path(floor))
                )
            )
        if paths:
            reader = self.spark.read.option("basePath", self.batches)
            if self.monoid.merge_schema:
                reader = reader.option("mergeSchema", "true")
            parts.append(self.monoid.lift(reader.parquet(*paths)))
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

    def live(self, below: int | None = None) -> DataFrame | None:
        """Union-all, unfolded, of the live snapshot and the committed
        batches with ``floor < batch_id < below`` (no upper bound when
        ``below`` is None); ``None`` when nothing has landed."""
        floor = self.floor()
        ids = self.batch_ids()
        return self._read(
            floor,
            [
                ids[b]
                for b in sorted(ids)
                if b > floor and (below is None or b < below)
            ],
        )

    def merged(
        self, below: int | None = None, empty_ok: bool = False
    ) -> DataFrame | None:
        """The fold of :meth:`live`. An empty store raises
        ``AnalysisException`` (there is nothing meaningful to report
        before the first batch) unless ``empty_ok``, which returns
        ``None``."""
        union = self.live(below)
        if union is None:
            if empty_ok:
                return None
            raise AnalysisException(
                f"partial store {self.root} does not exist yet "
                "(no batch has been processed)"
            )
        if self.monoid.check is not None:
            self.monoid.check(union)
        return self.monoid.fold(union)

    # -- compaction --

    def compact(
        self,
        upto_batch: int,
        marker: dict | None = None,
        before_retire: Callable[[dict[int, str]], None] | None = None,
    ) -> int | None:
        """Fold the live snapshot and every batch with ``batch_id <=
        upto_batch`` into ``compacted/floor=<k>``, flip the marker to
        ``k`` and retire the folded batches; ``k`` is ``upto_batch``
        clamped to the newest committed batch below the first batch
        directory that is not committed. ``marker`` adds fields to the
        marker; ``before_retire`` sees the batches about to be folded
        (id -> path) before anything is written. Returns the new
        floor, or None (a no-op) when no committed batch above the
        floor qualifies."""
        floor = self.floor()
        listed = self.fs.child_ids(self.batches, "batch_id")
        folded: dict[int, str] = {}
        for b in sorted(listed):
            if b <= floor:
                continue
            if b > int(upto_batch) or not self._committed(listed[b]):
                break  # the clamp
            folded[b] = listed[b]
        if not folded:
            return None
        upto = max(folded)
        if before_retire is not None:
            before_retire(folded)
        self.monoid.fold(
            self._read(floor, [folded[b] for b in sorted(folded)])
        ).write.mode("overwrite").parquet(self.snapshot_path(upto))
        self.fs.write_json_atomic(  # the commit point
            f"{self.root}/{_MARKER}",
            {**(marker or {}), "floor": upto, "kind": self.monoid.kind},
        )
        # -- best-effort cleanup; correctness never depends on it --
        for p in folded.values():
            self.fs.delete(p)
        if floor >= 0:
            self.fs.delete(self.snapshot_path(floor))
        return upto

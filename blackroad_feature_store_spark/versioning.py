"""Commit log giving the record table versions, time travel, and vacuum.

The reference persists records in SQLite, which hands it atomicity and
a single linear history for free (``feature_store.py:178-186``). On a
distributed file-backed table the equivalent is a *table format*:
Delta Lake / Iceberg track table state as an append-only log of
commits, each listing the data files added and removed, so that

* a write is **atomic** — data files are invisible until one small
  manifest file appears in the log, and that appearance is a single
  atomic filesystem operation;
* readers get **snapshot isolation** — a query resolves the live file
  set once, at its own version, and concurrent commits cannot change
  the files underneath it;
* old versions remain **time-travelable** until a vacuum physically
  deletes the files only they reference.

delta-spark is not installable in this environment, so this module is
a minimal, dependency-free implementation of the same public design
(the Delta Lake transaction-log protocol is published; this follows
its add/remove-action shape without any of its formats). At 100 TB the
identical layout works on an object store, with the one caveat that
the exclusive-create commit step needs a store with atomic
put-if-absent (S3 now has one) or a coordination service.

Layout::

    <base>/_versions/00000000.json   {"version": 0, "ts": ..., "op":
    <base>/_versions/00000001.json    "append", "add": [relpaths...],
    ...                               "remove": [relpaths...], ...}

Relative paths are against the record-table root. Replaying the log in
version order yields the live file set at any version. Add actions may
carry per-file column statistics (``min_ts``/``max_ts``) — Delta's
stats pattern — which versioned reads use for data skipping: an as-of
query drops whole files from the scan using the manifest alone. They
may also carry the file's ``rows`` and ``bytes``, which
:meth:`CommitLog.history` sums into each commit's ``rows_added``.

Commit protocol: write the manifest to a temp name, fsync, then
``os.link`` it to ``{version:08d}.json``. Hard-linking is atomic and
*exclusive* (EEXIST if a concurrent committer claimed the version), so
losing a race is detected and retried with the next version number —
optimistic concurrency, the same loop Delta runs against its log.
"""

from __future__ import annotations

import json
import os
import uuid
from datetime import datetime, timezone
from typing import Any, Optional

from .errors import ConcurrentModificationError
from .streaming.fsio import read_json, write_json_atomic

_MANIFEST_DIGITS = 8

# A checkpoint (the full live-entry set, materialized) is written every
# N commits, so replay cost is O(N + entries) instead of O(commits) —
# the same reader-scaling device as Delta's _last_checkpoint. Manifests
# are kept (history/time travel still read them); checkpoints are pure
# acceleration and readers fall back to full replay without one.
CHECKPOINT_EVERY = 10


def _manifest_name(version: int) -> str:
    return f"{version:0{_MANIFEST_DIGITS}d}.json"


def _checkpoint_name(version: int) -> str:
    return f"{version:0{_MANIFEST_DIGITS}d}.checkpoint.json"


class CommitLog:
    """The version history of one file-backed table."""

    def __init__(self, log_dir: str):
        self.dir = str(log_dir)

    # -- reading ------------------------------------------------------

    def versions(self) -> list[int]:
        """All committed versions, ascending. Temp files are skipped."""
        try:
            names = os.listdir(self.dir)
        except FileNotFoundError:
            return []
        out = []
        for n in names:
            stem, dot, ext = n.partition(".")
            if dot and ext == "json" and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def latest_version(self) -> Optional[int]:
        vs = self.versions()
        return vs[-1] if vs else None

    def read(self, version: int) -> dict[str, Any]:
        with open(os.path.join(self.dir, _manifest_name(version))) as fh:
            return json.load(fh)

    def live_entries(self, version: Optional[int] = None) -> list[dict[str, Any]]:
        """The live file set at ``version`` (inclusive; latest when
        None). Returns one dict per live file — at least
        ``{"path": ...}``, plus whatever per-file statistics the commit
        recorded (``min_ts``/``max_ts`` for data-skipping reads, the
        Delta-stats pattern). Order of first addition is preserved.
        Add actions may be plain path strings (older manifests) or
        stat dicts; both replay identically.

        Replay starts from the newest usable checkpoint at or before
        the target, then applies only the manifests after it.
        """
        vs = self.versions()
        if version is not None:
            vs = [v for v in vs if v <= version]
        if not vs:
            return []
        live: dict[str, dict[str, Any]] = {}
        cp = self._load_checkpoint(at_most=vs[-1])
        if cp is not None:
            cp_version, entries = cp
            live = {e["path"]: e for e in entries}
            vs = [v for v in vs if v > cp_version]
        for v in vs:
            m = self.read(v)
            for f in m.get("remove", ()):
                live.pop(f, None)
            for f in m.get("add", ()):
                e = {"path": f} if isinstance(f, str) else f
                live[e["path"]] = e
        return list(live.values())

    def _checkpoint_versions(self) -> list[int]:
        try:
            names = os.listdir(self.dir)
        except FileNotFoundError:
            return []
        out = []
        for n in names:
            stem, dot, ext = n.partition(".")
            if dot and ext == "checkpoint.json" and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def _load_checkpoint(
        self, at_most: int
    ) -> Optional[tuple[int, list[dict[str, Any]]]]:
        """Newest readable checkpoint with version <= ``at_most``; an
        unreadable one falls back to the next older (checkpoints are
        acceleration only — correctness never depends on them)."""
        doc = self._load_checkpoint_doc(at_most)
        if doc is None:
            return None
        return doc["version"], doc["entries"]

    def _load_checkpoint_doc(
        self, at_most: int, need: tuple[str, ...] = ("entries",)
    ) -> Optional[dict[str, Any]]:
        """Newest readable checkpoint doc with version <= ``at_most``
        carrying all keys in ``need`` (older checkpoint formats may
        lack newer sidecar keys and are skipped for callers that
        require them)."""
        for v in reversed(self._checkpoint_versions()):
            if v > at_most:
                continue
            try:
                doc = read_json(os.path.join(self.dir, _checkpoint_name(v)))
            except (OSError, ValueError):
                continue  # unreadable: fall back to an older one
            if doc is not None and all(k in doc for k in need):
                return doc
        return None

    def _maybe_checkpoint(self, version: int) -> None:
        """Materialize the live set after every CHECKPOINT_EVERY-th
        commit. Atomic replace; content is deterministic for a version,
        so concurrent writers racing on the same checkpoint are
        harmless. Failure is swallowed — the log stays correct."""
        if version == 0 or version % CHECKPOINT_EVERY != 0:
            return
        try:
            doc = {
                "version": version,
                "entries": self.live_entries(version),
                # Cumulative every-path-ever-added sidecar, extended
                # incrementally from the previous checkpoint, so vacuum's
                # referenced_paths() stays O(commits since checkpoint)
                # instead of an O(full history) manifest walk.
                "added_paths": sorted(self._added_paths_at(version)),
            }
            write_json_atomic(
                os.path.join(self.dir, _checkpoint_name(version)), doc
            )
        except OSError:
            pass

    def live_files(self, version: Optional[int] = None) -> list[str]:
        """Live file paths at ``version`` (stats dropped)."""
        return [e["path"] for e in self.live_entries(version)]

    def referenced_paths(self) -> set[str]:
        """Every path any manifest ever ADDED, live or since removed.

        Vacuum uses this to tell committed-but-superseded files (safe
        to delete immediately once unretained) from true orphans —
        files in the tree that no manifest references, which may belong
        to an in-flight writer that has absorbed its staging files but
        not yet committed, and so only die after a grace period.

        Live-entry checkpoints alone cannot serve here (they drop
        removed entries), so each checkpoint also carries a cumulative
        ``added_paths`` sidecar; replay starts from the newest one and
        reads only the manifests after it — O(commits since
        checkpoint), so a 100k-commit history doesn't stall a vacuum.
        Falls back to the full O(commits) walk when no sidecar-bearing
        checkpoint exists (pre-sidecar logs).
        """
        vs = self.versions()
        if not vs:
            return set()
        return self._added_paths_at(vs[-1])

    def _added_paths_at(self, version: int) -> set[str]:
        """Every path added by any manifest with version <= ``version``,
        extended incrementally from the newest ``added_paths``-bearing
        checkpoint at or below it."""
        out: set[str] = set()
        after = -1
        cp = self._load_checkpoint_doc(at_most=version, need=("added_paths",))
        if cp is not None:
            out.update(cp["added_paths"])
            after = cp["version"]
        for v in self.versions():
            if after < v <= version:
                for f in self.read(v).get("add", ()):
                    out.add(f if isinstance(f, str) else f["path"])
        return out

    def version_as_of(self, ts: datetime | str) -> Optional[int]:
        """Latest version committed at or before ``ts`` (UTC)."""
        if isinstance(ts, str):
            ts = datetime.fromisoformat(ts)
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=timezone.utc)
        # Scan the FULL log rather than stopping at the first commit
        # with ts > target: concurrent writers / clock skew can commit
        # non-monotonic timestamps, and the contract is
        # max(v where ts(v) <= target). The log is checkpointed and
        # small, so the full pass is cheap.
        best = None
        for v in self.versions():
            committed = datetime.fromisoformat(self.read(v)["ts"])
            if committed <= ts:
                best = v
        return best

    def history(self) -> list[dict[str, Any]]:
        """All commits, newest first, with add/remove collapsed to
        counts (the full file lists stay in the manifests).
        ``rows_added`` sums the add actions' ``rows``; it is None when
        one of them predates that field."""
        out = []
        for v in reversed(self.versions()):
            m = self.read(v)
            rows = [
                f.get("rows") if isinstance(f, dict) else None
                for f in m.get("add", ())
            ]
            out.append(
                {
                    "version": m["version"],
                    "ts": m["ts"],
                    "op": m["op"],
                    "files_added": len(rows),
                    "files_removed": len(m.get("remove", ())),
                    "rows_added": None if None in rows else sum(rows),
                }
            )
        return out

    # -- writing ------------------------------------------------------

    def commit(
        self,
        op: str,
        add: list[Any],
        remove: list[str],
        meta: Optional[dict[str, Any]] = None,
    ) -> int:
        """Durably append one commit; returns its version number.

        Optimistic: on EEXIST (another committer claimed the version)
        the attempt retries with the next number. The manifest content
        is fsynced before the link, so a crash can never expose a
        partially written manifest under a committed name.

        Conflict detection: a commit with a non-empty ``remove`` set
        verifies — on the first attempt AND on every optimistic retry —
        that every path it removes is still live at the current latest
        version. A concurrent commit that already removed one of them
        (a delete racing a compaction, say) makes replaying both
        commits double every surviving row the loser re-added, and can
        resurrect rows the winner erased; the loser must abort with
        :class:`ConcurrentModificationError` and re-resolve its
        snapshot instead (Delta Lake's DELETE/OPTIMIZE conflict-check
        contract). The version-numbered exclusive link makes this
        sound: two racing committers necessarily collide on a version
        number, so the loser always re-runs the validation against the
        winner's commit before it can land.
        """
        os.makedirs(self.dir, exist_ok=True)
        while True:
            vs = self.versions()
            version = (vs[-1] + 1) if vs else 0
            if remove:
                live = {
                    e["path"]
                    for e in self.live_entries(vs[-1] if vs else None)
                }
                gone = sorted(set(remove) - live)
                if gone:
                    raise ConcurrentModificationError(
                        f"Commit op={op!r} aborted: {len(gone)} file(s) in "
                        f"its remove set are no longer live at version "
                        f"{vs[-1] if vs else None} (first: {gone[0]!r}). A "
                        "concurrent commit removed them; re-resolve the "
                        "snapshot and retry the operation."
                    )
            doc = {
                "version": version,
                "ts": datetime.now(timezone.utc).isoformat(),
                "op": op,
                "add": list(add),
                "remove": list(remove),
            }
            if meta:
                doc.update(meta)
            tmp = os.path.join(self.dir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as fh:
                json.dump(doc, fh)
                fh.flush()
                os.fsync(fh.fileno())
            final = os.path.join(self.dir, _manifest_name(version))
            try:
                os.link(tmp, final)
                os.unlink(tmp)
                self._maybe_checkpoint(version)
                return version
            except FileExistsError:
                os.unlink(tmp)
                continue

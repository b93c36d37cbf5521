"""Correctness oracles, computed from the benchmark's own generated
inputs and run outside the timed region. Each takes the expected
answer's ingredients and the engine's answer and returns a list of
mismatch descriptions (empty when correct). Pure pandas/numpy, so the
self-test can plant wrong answers without a Spark session.
"""

from __future__ import annotations

import hashlib
import math
import numbers
from typing import Any, Optional

import numpy as np
import pandas as pd

from inputs import FEATURES, STREAM_FEATURES, History

# -- training_set: pandas merge_asof on the generated frames ----------


def expected_training_set(spine: pd.DataFrame, groups: list[History]) -> pd.DataFrame:
    """The point-in-time training set: each spine row joined to the
    newest snapshot at or before ``label_ts`` in every group (ties at
    equal timestamps go to the larger record id)."""
    out = spine.sort_values("label_ts", kind="mergesort")
    for h in groups:
        right = h.frame.rename(
            columns={"id": f"{h.prefix}_id", "timestamp": f"{h.prefix}_ts"}
        ).sort_values([f"{h.prefix}_ts", f"{h.prefix}_id"], kind="mergesort")
        out = pd.merge_asof(
            out, right, left_on="label_ts", right_on=f"{h.prefix}_ts",
            by="entity_id", direction="backward",
        )
    return out


def training_columns(groups: list[History]) -> list[str]:
    cols = ["row", "entity_id"]
    for h in groups:
        cols += [f"{h.prefix}_id"] + [f"{h.prefix}_{f}" for f in FEATURES]
    return cols


def _cell(v: Any) -> str:
    """Canonical text of one cell: Spark and pandas/numpy values of the
    same number read alike, and a missing value is ∅ either way."""
    if v is None:
        return "∅"
    if isinstance(v, float):  # numpy floats included
        return "∅" if math.isnan(v) else repr(float(v))
    if isinstance(v, numbers.Integral):
        return str(int(v))
    return str(v)


def frame_digest(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: int(r[0])):
        h.update("\x1f".join(_cell(v) for v in r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def check_training_set(expected: pd.DataFrame, cols: list[str],
                       got: list[tuple]) -> list[str]:
    """Hash-compare the engine's build (rows in ``cols`` order) with the
    merge_asof oracle."""
    want = [tuple(r) for r in expected[cols].itertuples(index=False)]
    if len(got) != len(want):
        return [f"training_set: {len(got)} rows, expected {len(want)}"]
    if frame_digest(got) != frame_digest(want):
        by_row = {int(r[0]): r for r in want}
        for r in sorted(got, key=lambda r: int(r[0])):
            w = by_row.get(int(r[0]))
            if w is None or [_cell(v) for v in r] != [_cell(v) for v in w]:
                return [f"training_set: row {r[0]} is {r}, expected {w}"]
        return ["training_set: digest mismatch"]
    return []


# -- lookup_ingest: in-memory latest-snapshot model --------------------


class LatestModel:
    """Latest snapshot per (group, entity), kept by the benchmark as it
    feeds the store: newest timestamp wins, larger id on ties."""

    def __init__(self) -> None:
        self._latest: dict[tuple[str, str], tuple[Any, str, dict]] = {}

    def add(self, group: str, frame: pd.DataFrame, prefix: str) -> None:
        cols = [f"{prefix}_{f}" for f in FEATURES]
        for rid, ent, ts, *vals in frame[["id", "entity_id", "timestamp", *cols]].itertuples(
            index=False
        ):
            key = (group, ent)
            cur = self._latest.get(key)
            if cur is None or (ts, rid) > (cur[0], cur[1]):
                self._latest[key] = (ts, rid, dict(zip(cols, vals)))

    def latest(self, group: str, ent: str) -> Optional[dict]:
        cur = self._latest.get((group, ent))
        return None if cur is None else cur[2]


def _same(a: Any, b: Any) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and float(a) == float(b)
    return a == b


def _same_dict(a: Optional[dict], b: Optional[dict]) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)


def check_lookups(model: LatestModel, group: str,
                  got: dict[str, Optional[dict]]) -> list[str]:
    """``got`` maps each probe entity to ``get_features``' answer."""
    bad = []
    for ent, ans in sorted(got.items()):
        want = model.latest(group, ent)
        if not _same_dict(ans, want):
            bad.append(f"get_features({ent}) = {ans}, expected {want}")
    return bad


def check_pit(model: LatestModel, groups: list[tuple[str, list[str]]],
              entities: list[str], got: list[dict]) -> list[str]:
    """``point_in_time_join`` rows for ``entities`` (input order kept;
    a group with no snapshot null-fills its declared features)."""
    if [r.get("entity_id") for r in got] != list(entities):
        return ["point_in_time_join: rows out of input order"]
    bad = []
    for ent, row in zip(entities, got):
        want: dict[str, Any] = {"entity_id": ent}
        for gid, feats in groups:
            snap = model.latest(gid, ent)
            if snap:
                want.update(snap)
            else:
                for f in feats:
                    want.setdefault(f, None)
        if not _same_dict(row, want):
            bad.append(f"point_in_time_join({ent}) = {row}, expected {want}")
    return bad


# -- stream phase: numpy recompute of the source ----------------------


def expected_stats(source: pd.DataFrame) -> dict[tuple[str, str], tuple]:
    """(group, feature) -> (n, n_null, sum, min, max) over the source."""
    out = {}
    for g, part in source.groupby("group"):
        for f in STREAM_FEATURES:
            v = part[f].to_numpy()
            ok = v[~np.isnan(v)]
            out[(g, f)] = (len(v), int(np.isnan(v).sum()), float(ok.sum()),
                           float(ok.min()), float(ok.max()))
    return out


def check_stats(expected: dict[tuple[str, str], tuple],
                got: dict[tuple[str, str], tuple], when: str) -> list[str]:
    """``got`` from ``merge_stats``: same key and tuple shape. Counts,
    min and max are exact; the double sum re-associates across
    partials, so it is compared at a relative 1e-9."""
    if got.keys() != expected.keys():
        return [f"stream stats {when}: groups {sorted(got)} != {sorted(expected)}"]
    bad = []
    for k, (n, nn, s, lo, hi) in expected.items():
        gn, gnn, gs, glo, ghi = got[k]
        if (gn, gnn, glo, ghi) != (n, nn, lo, hi) or not math.isclose(
            gs, s, rel_tol=1e-9, abs_tol=1e-9
        ):
            bad.append(f"stream stats {when} {k}: {got[k]} != {expected[k]}")
    return bad

#!/usr/bin/env python3
"""Self-test of the benchmark's correctness oracles (no Spark needed).

    python3 fsbench/selftest.py

For each oracle it feeds the right answer, which must pass, and planted
wrong answers, each of which must be rejected. Exits 1 if any oracle
accepts a wrong answer or rejects the right one.
"""

from __future__ import annotations

import copy
import sys

import numpy as np
import pandas as pd

import oracles
from inputs import STREAM_FEATURES, _history, entity


def _training() -> list[tuple[str, list[str]]]:
    rng = np.random.default_rng(7)
    groups = [_history(rng, "p", 40, (2, 7)), _history(rng, "a", 10, (30, 51))]
    spine = pd.DataFrame({
        "row": np.arange(60),
        "entity_id": [entity(int(e)) for e in rng.integers(0, 45, 60)],
        "label_ts": groups[0].frame["timestamp"].sample(60, random_state=1).to_numpy(),
    })
    want = oracles.expected_training_set(spine, groups)
    cols = oracles.training_columns(groups)
    right = [tuple(r) for r in want[cols].itertuples(index=False)]
    matched = next(i for i, r in enumerate(right) if isinstance(r[2], str))
    value = list(right[matched])
    value[3] = value[3] + 1e-9
    other = list(right[matched])
    other[2] = "p99999999"  # another snapshot's id
    return [
        ("right answer", oracles.check_training_set(want, cols, right)),
        ("perturbed feature", oracles.check_training_set(
            want, cols, right[:matched] + [tuple(value)] + right[matched + 1:])),
        ("wrong snapshot", oracles.check_training_set(
            want, cols, right[:matched] + [tuple(other)] + right[matched + 1:])),
        ("missing row", oracles.check_training_set(want, cols, right[1:])),
    ]


def _serving() -> list[tuple[str, list[str]]]:
    rng = np.random.default_rng(8)
    h = _history(rng, "p", 20, (2, 7))
    model = oracles.LatestModel()
    model.add("G", h.frame, "p")
    ents = [entity(i) for i in range(5)] + ["c000000"]
    right = {e: model.latest("G", e) for e in ents}
    stale = dict(right)
    older = h.frame[h.frame.entity_id == ents[0]].sort_values("timestamp").iloc[0]
    stale[ents[0]] = {k: older[k] for k in ("p_f1", "p_f2", "p_f3", "p_s1")}
    phantom = dict(right)
    phantom["c000000"] = dict(right[ents[1]])
    feats = ["p_f1", "p_f2", "p_f3", "p_s1"]
    pit = [{"entity_id": e, **(right[e] or dict.fromkeys(feats))} for e in ents]
    swapped = copy.deepcopy(pit)
    swapped[0], swapped[1] = swapped[1], swapped[0]
    dropped_key = copy.deepcopy(pit)
    del dropped_key[2]["p_f2"]
    return [
        ("right lookups", oracles.check_lookups(model, "G", right)),
        ("stale snapshot", oracles.check_lookups(model, "G", stale)),
        ("phantom entity", oracles.check_lookups(model, "G", phantom)),
        ("right PIT", oracles.check_pit(model, [("G", feats)], ents, pit)),
        ("PIT out of order", oracles.check_pit(model, [("G", feats)], ents, swapped)),
        ("PIT missing feature", oracles.check_pit(model, [("G", feats)], ents, dropped_key)),
    ]


def _stats() -> list[tuple[str, list[str]]]:
    rng = np.random.default_rng(9)
    src = pd.DataFrame({"group": [f"g{g}" for g in rng.integers(0, 3, 500)]})
    for f in STREAM_FEATURES:
        v = rng.normal(size=500)
        v[rng.random(500) < 0.05] = np.nan
        src[f] = v
    want = oracles.expected_stats(src)
    key = next(iter(want))
    n, nn, s, lo, hi = want[key]
    return [
        ("right stats", oracles.check_stats(want, dict(want), "t")),
        ("double-counted batch", oracles.check_stats(want, {**want, key: (n * 2, nn, s, lo, hi)}, "t")),
        ("wrong sum", oracles.check_stats(want, {**want, key: (n, nn, s + 1e-3, lo, hi)}, "t")),
        ("lost group", oracles.check_stats(
            want, {k: v for k, v in want.items() if k != key}, "t")),
    ]


def main() -> int:
    bad = 0
    for name, results in (("training_set", _training()), ("serving", _serving()),
                          ("stream", _stats())):
        for case, mismatches in results:
            should_pass = case.startswith("right")
            ok = (not mismatches) == should_pass
            bad += not ok
            verdict = "accepted" if not mismatches else "rejected"
            print(f"{'ok  ' if ok else 'FAIL'} {name}: {case} {verdict}")
    print(f"{bad} oracle self-test failure(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

"""Seeded input generation for the feature-store benchmark.

Everything the engine sees is made here from ``--seed`` alone: the bulk
history of the two feature groups, the training spine, the serving
request sequence and the stream source. The same seed gives the same
inputs; the engine receives only the generated frames and files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes (see README.md for why each workload uses them).
PROFILE_ENTITIES = 3_000  # shallow group: ~4 snapshots per entity
PROFILE_DEPTH = (2, 7)  # uniform integer range, mean 4
ACTIVITY_ENTITIES = 300  # deep group: ~40 snapshots per entity
ACTIVITY_DEPTH = (30, 51)  # mean 40 (above depth_threshold=16)
SPINE_ROWS = 4_000
SPINE_COLD_SHARE = 0.10  # spine rows whose entity has no history
LOOKUPS_PER_CYCLE = 8
PIT_ENTITIES = 64
WRITE_RECORDS = 200
STREAM_FILES = 5
STREAM_ROWS_PER_FILE = 4_000
STREAM_GROUPS = 8
STREAM_WARM_FILES = 1
STREAM_FEATURES = ("f1", "f2", "f3")
FEATURES = ("f1", "f2", "f3", "s1")  # 3 float features + 1 string
HISTORY_SECONDS = 365 * 24 * 3600
BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")

RECORDS_PA_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("group_id", pa.string()),
        ("entity_id", pa.string()),
        ("feature_values", pa.map_(pa.string(), pa.string())),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("version", pa.int32()),
    ]
)


def entity(i: int) -> str:
    return f"u{i:06d}"


def cold_entity(i: int) -> str:
    return f"c{i:06d}"


@dataclass
class History:
    """One group's generated history in long form: one row per record
    with the typed feature values (the oracle's view) next to the JSON
    map cells the engine ingests."""

    prefix: str
    frame: pd.DataFrame  # id, entity_id, timestamp, <prefix>_f1.., <prefix>_s1


def _history(rng: np.random.Generator, prefix: str, n_entities: int,
             depth: tuple[int, int]) -> History:
    depths = rng.integers(depth[0], depth[1], n_entities)
    n = int(depths.sum())
    ent = np.repeat(np.arange(n_entities), depths)
    secs = rng.integers(0, HISTORY_SECONDS, n)
    frame = pd.DataFrame(
        {
            "id": [f"{prefix}{i:08d}" for i in range(n)],
            "entity_id": [entity(e) for e in ent],
            "timestamp": BASE_TS + (secs * 1_000_000).astype("timedelta64[us]"),
        }
    )
    vals = rng.random((n, 3))
    for j, f in enumerate(FEATURES[:3]):
        frame[f"{prefix}_{f}"] = vals[:, j]
    frame[f"{prefix}_s1"] = [f"s{k}" for k in rng.integers(0, 100, n)]
    return History(prefix, frame)


def history_table(h: History, group_key: str) -> pa.Table:
    """Engine-shaped records (JSON map cells) for one group; the group
    id column holds ``group_key`` and is rewritten at ingest."""
    f = h.frame
    cols = [f"{h.prefix}_{x}" for x in FEATURES]
    floats = [f[c].to_numpy() for c in cols[:3]]
    strs = f[cols[3]].tolist()
    maps = [
        [(cols[0], repr(float(a))), (cols[1], repr(float(b))),
         (cols[2], repr(float(c))), (cols[3], json.dumps(s))]
        for a, b, c, s in zip(*floats, strs)
    ]
    return pa.Table.from_pydict(
        {
            "id": f["id"].tolist(),
            "group_id": [group_key] * len(f),
            "entity_id": f["entity_id"].tolist(),
            "feature_values": maps,
            "timestamp": f["timestamp"].dt.tz_localize("UTC"),
            "version": np.ones(len(f), dtype=np.int32),
        },
        schema=RECORDS_PA_SCHEMA,
    )


@dataclass
class Inputs:
    profile: History
    activity: History
    records_path: str  # one parquet file of both groups' records
    spine: pd.DataFrame  # row, entity_id, label_ts
    lookups: list[list[str]]  # per cycle, Zipf-skewed entity ids
    pit_sets: list[list[str]]  # per cycle, PIT entity lists
    writes: list[pd.DataFrame]  # per cycle, profile records to append
    probe_entities: list[str]  # fixed set the serving oracle checks
    stream_dir: str
    stream_warm_dir: str
    stream: pd.DataFrame  # the stream source, concatenated


def _zipf_ids(rng: np.random.Generator, order: np.ndarray, k: int) -> list[str]:
    ranks = np.minimum(rng.zipf(1.3, k), len(order)) - 1
    return [entity(int(order[r])) for r in ranks]


def _write_stream_source(rng: np.random.Generator, out: str, files: int) -> pd.DataFrame:
    os.makedirs(out, exist_ok=True)
    frames = []
    for k in range(files):
        m = STREAM_ROWS_PER_FILE
        d = pd.DataFrame({"group": [f"g{g}" for g in rng.integers(0, STREAM_GROUPS, m)]})
        for f in STREAM_FEATURES:
            v = rng.normal(0.0, 1.0, m)
            v[rng.random(m) < 0.02] = np.nan  # ~2% nulls per feature
            d[f] = v
        # from_pandas writes each NaN as a parquet null: a missing
        # feature value in the source.
        pq.write_table(
            pa.Table.from_pandas(d, preserve_index=False),
            os.path.join(out, f"part-{k:04d}.parquet"),
        )
        frames.append(d)
    return pd.concat(frames, ignore_index=True)


def make_inputs(seed: int, root: str, cycles: int) -> Inputs:
    """Generate every input of one run under ``root``."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    profile = _history(rng, "p", PROFILE_ENTITIES, PROFILE_DEPTH)
    activity = _history(rng, "a", ACTIVITY_ENTITIES, ACTIVITY_DEPTH)
    records_path = os.path.join(root, "records.parquet")
    pq.write_table(
        pa.concat_tables(
            [history_table(profile, "profile"), history_table(activity, "activity")]
        ),
        records_path,
    )

    n_cold = int(SPINE_ROWS * SPINE_COLD_SHARE)
    warm = [entity(int(e)) for e in rng.integers(0, PROFILE_ENTITIES, SPINE_ROWS - n_cold)]
    cold = [cold_entity(int(e)) for e in rng.integers(0, 10 * n_cold, n_cold)]
    ents = warm + cold
    rng.shuffle(ents)
    spine = pd.DataFrame(
        {
            "row": np.arange(SPINE_ROWS, dtype=np.int64),
            "entity_id": ents,
            "label_ts": BASE_TS
            + (rng.integers(0, HISTORY_SECONDS, SPINE_ROWS) * 1_000_000).astype(
                "timedelta64[us]"
            ),
        }
    )

    # Serving sequence: Zipf-skewed lookups over a seeded popularity
    # order, PIT requests, and appends timestamped after the history.
    order = rng.permutation(PROFILE_ENTITIES)
    lookups, pit_sets, writes = [], [], []
    after = BASE_TS + np.timedelta64(HISTORY_SECONDS, "s")
    for c in range(cycles):
        lookups.append(_zipf_ids(rng, order, LOOKUPS_PER_CYCLE))
        pit_sets.append(
            [entity(int(e)) for e in rng.choice(PROFILE_ENTITIES, PIT_ENTITIES, replace=False)]
        )
        ents_w = rng.choice(PROFILE_ENTITIES, WRITE_RECORDS, replace=False)
        vals = rng.random((WRITE_RECORDS, 3))
        w = pd.DataFrame(
            {
                "id": [f"w{c:04d}{j:04d}" for j in range(WRITE_RECORDS)],
                "entity_id": [entity(int(e)) for e in ents_w],
                "timestamp": after
                + np.timedelta64(c * 3600, "s")
                + (np.arange(WRITE_RECORDS) * 1_000_000).astype("timedelta64[us]"),
                "p_f1": vals[:, 0],
                "p_f2": vals[:, 1],
                "p_f3": vals[:, 2],
                "p_s1": [f"w{c}" for _ in range(WRITE_RECORDS)],
            }
        )
        writes.append(w)
    probe = sorted(
        set(writes[0]["entity_id"][:8])
        | set(writes[-1]["entity_id"][:8])
        | {entity(int(order[r])) for r in range(8)}
        | {entity(int(e)) for e in rng.integers(0, PROFILE_ENTITIES, 8)}
        | {cold_entity(0)}
    )

    stream_dir = os.path.join(root, "stream_src")
    stream_warm_dir = os.path.join(root, "stream_warm")
    stream = _write_stream_source(rng, stream_dir, STREAM_FILES)
    _write_stream_source(rng, stream_warm_dir, STREAM_WARM_FILES)
    return Inputs(
        profile=profile,
        activity=activity,
        records_path=records_path,
        spine=spine,
        lookups=lookups,
        pit_sets=pit_sets,
        writes=writes,
        probe_entities=probe,
        stream_dir=stream_dir,
        stream_warm_dir=stream_warm_dir,
        stream=stream,
    )

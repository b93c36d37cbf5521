"""Property-style point-in-time checks (SURVEY.md §5.2c): random
snapshot histories, assert the engine's as-of results equal a
brute-force Python scan over the same history."""

import random

import pytest

from blackroad_feature_store_spark import FeatureStore
from blackroad_feature_store_spark.store import EntityRecord


def brute_force_asof(history, entity_id, as_of):
    """Latest snapshot dict with ts <= as_of, ties broken by record id
    (the engine's documented tiebreak)."""
    cands = [
        r for r in history
        if r["entity_id"] == entity_id and r["ts"] <= as_of
    ]
    if not cands:
        return None
    best = max(cands, key=lambda r: (r["ts"], r["rid"]))
    return best["values"]


@pytest.fixture(scope="module")
def random_store(spark, tmp_path_factory):
    rng = random.Random(20260813)
    base = str(tmp_path_factory.mktemp("pitprop") / "fs")
    fs = FeatureStore(spark, base)
    for name in ["a", "b", "c"]:
        fs.register_feature(name, "user", "int")
    g = fs.create_group("rand_g", ["a", "b", "c"], "user_id")

    history = []
    recs = []
    for i in range(300):
        entity = f"u{rng.randrange(12)}"
        # coarse timestamps on purpose: plenty of exact-ts ties
        ts = (
            f"2026-{rng.randrange(1, 13):02d}-"
            f"{rng.randrange(1, 28):02d}T{rng.choice([0, 12]):02d}:00:00"
        )
        values = {
            k: rng.randrange(100)
            for k in rng.sample(["a", "b", "c"], rng.randrange(1, 4))
        }
        rec = EntityRecord(
            group_id=g.id, entity_id=entity,
            feature_values=values, timestamp=ts,
        )
        recs.append(rec)
        history.append(
            {"entity_id": entity, "ts": ts, "rid": rec.id, "values": values}
        )
    fs.write_features_batch(recs)
    return fs, g, history


@pytest.mark.parametrize(
    "as_of",
    ["2026-03-15T00:00:00", "2026-06-01T12:00:00", "2026-12-31T23:59:59",
     "2025-12-31T00:00:00"],
)
def test_asof_reads_match_brute_force(random_store, as_of):
    fs, g, history = random_store
    for entity in [f"u{i}" for i in range(12)]:
        expected = brute_force_asof(history, entity, as_of)
        got = fs.get_features(g.id, entity, as_of=as_of)
        assert got == expected, (entity, as_of)


def test_pit_join_matches_brute_force(random_store):
    fs, g, history = random_store
    as_of = "2026-07-01T00:00:00"
    entities = [f"u{i}" for i in range(12)] + ["missing"]
    rows = fs.point_in_time_join(entities, [g.id], as_of)
    assert [r["entity_id"] for r in rows] == entities  # input order
    for row in rows:
        expected = brute_force_asof(history, row["entity_id"], as_of)
        if expected is None:
            # miss → every declared feature null-filled
            assert row == {
                "entity_id": row["entity_id"], "a": None, "b": None, "c": None
            }
        else:
            # hit → the snapshot verbatim (snapshot-wins); declared
            # features the snapshot omits stay ABSENT, exactly like the
            # reference's `if values: row.update(values)` path
            assert row == {"entity_id": row["entity_id"], **expected}


def brute_force_pit(histories, groups, entities, as_of):
    """The reference's E×G loop (feature_store.py:411-448) over
    brute-force as-of reads: ``row.update`` for each non-empty
    snapshot, ``setdefault(None)`` for each group that missed, groups
    in request order."""
    out = []
    for e in entities:
        row = {"entity_id": e}
        for gid, features in groups:
            values = brute_force_asof(histories[gid], e, as_of)
            if values:
                row.update(values)
            else:
                for f in features:
                    row.setdefault(f, None)
        out.append(row)
    return out


@pytest.fixture(scope="module")
def two_group_store(spark, tmp_path_factory):
    """Two groups with overlapping features (b, c) over one entity
    set, random histories plus pinned cases: an all-empty snapshot
    that hides an older non-empty one, and a later group's explicit
    ``None`` over an earlier group's value."""
    rng = random.Random(20261019)
    fs = FeatureStore(spark, str(tmp_path_factory.mktemp("pit2g") / "fs"))
    for name in ["a", "b", "c", "d"]:
        fs.register_feature(name, "user", "int")
    g1 = fs.create_group("left", ["a", "b", "c"], "user_id")
    g2 = fs.create_group("right", ["b", "c", "d"], "user_id")
    histories = {g1.id: [], g2.id: []}
    recs = []

    def add(g, entity, ts, values):
        rec = EntityRecord(g.id, entity, values, ts)
        recs.append(rec)
        histories[g.id].append(
            {"entity_id": entity, "ts": ts, "rid": rec.id, "values": values}
        )

    for _ in range(160):
        g = rng.choice([g1, g2])
        pool = g.features + ["x"]  # "x": an undeclared, open-schema key
        values = {
            k: rng.choice([rng.randrange(100), None])
            for k in rng.sample(pool, rng.randrange(0, len(pool) + 1))
        }
        ts = f"2026-{rng.randrange(2, 12):02d}-{rng.randrange(1, 28):02d}T00:00:00"
        add(g, f"u{rng.randrange(8)}", ts, values)
    # pinned: u8's newest right snapshot is empty (a miss that must
    # null-fill, hiding its older value); u9's right snapshot sets b to
    # None over left's b=5
    add(g1, "u8", "2026-03-01T00:00:00", {"a": 1, "b": 2})
    add(g2, "u8", "2026-03-01T00:00:00", {"d": 7})
    add(g2, "u8", "2026-04-01T00:00:00", {})
    add(g1, "u9", "2026-03-01T00:00:00", {"a": 4, "b": 5})
    add(g2, "u9", "2026-03-02T00:00:00", {"b": None, "d": 6})
    fs.write_features_batch(recs)
    return fs, (g1, g2), histories


@pytest.mark.parametrize(
    "as_of",
    ["2026-01-01T00:00:00",  # before every record: all null-filled
     "2026-05-01T00:00:00", "2026-08-15T00:00:00", "2026-12-31T00:00:00"],
)
def test_two_group_pit_matches_brute_force(two_group_store, as_of):
    fs, (g1, g2), histories = two_group_store
    rng = random.Random(as_of)
    pool = [f"u{i}" for i in range(10)] + ["missing"]
    entities = rng.sample(pool, 6) + ["u8", "u9", "u8"]  # u8 twice
    for order in ([g1, g2], [g2, g1], [g1, g2, g1]):  # left twice
        want = brute_force_pit(
            histories, [(g.id, g.features) for g in order], entities, as_of
        )
        got = fs.point_in_time_join(entities, [g.id for g in order], as_of)
        assert got == want, ([g.name for g in order], as_of)
        if order == [g1, g2] and as_of == "2026-05-01T00:00:00":
            # the pinned cases are live at this cutoff
            assert got[-3] == {
                "entity_id": "u8", "a": 1, "b": 2, "c": None, "d": None
            }
            assert got[-2] == {"entity_id": "u9", "a": 4, "b": None, "d": 6}


def test_statistics_match_brute_force(random_store):
    fs, g, history = random_store
    st = fs.statistics(g.id)
    assert st["total_records"] == len(history)
    for feat in ["a", "b", "c"]:
        vals = [r["values"][feat] for r in history if feat in r["values"]]
        s = st["features"][feat]
        assert s["count"] == len(vals)
        assert s["null_count"] == len(history) - len(vals)
        assert s["min"] == min(vals)
        assert s["max"] == max(vals)
        assert s["mean"] == round(sum(vals) / len(vals), 6)


def brute_force_per_row(spine_rows, recs, tol=None, how="left"):
    """Per-row as-of by scan: for each (entity, cutoff) spine row the
    record (id, entity, val, ts) with the greatest ts <= cutoff, ties
    to the greatest id with NULL ids losing. NULL keys, cutoffs and
    record ts never match; a pick older than ``cutoff - tol`` is
    stale. Rows are (entity, cutoff, id, val, ts)."""
    from datetime import date, datetime

    out = []
    for entity, cutoff in spine_rows:
        bound = cutoff
        if type(cutoff) is date:  # compared as a timestamp, like <=
            bound = datetime(cutoff.year, cutoff.month, cutoff.day)
        best = None
        if entity is not None and bound is not None:
            cands = [
                r for r in recs
                if r[1] == entity and r[3] is not None and r[3] <= bound
            ]
            if cands:
                best = max(
                    cands, key=lambda r: (r[3], r[0] is not None, r[0] or "")
                )
                if tol is not None and best[3] < bound - tol:
                    best = None
        if best is not None:
            out.append((entity, cutoff, best[0], best[2], best[3]))
        elif how == "left":
            out.append((entity, cutoff, None, None, None))
    return out


def _random_pit_case(rng, t0, n_ent=8, depth=10, spine_per_ent=3):
    """Records and spine rows with timestamp ties, spine instants equal
    to record ts, NULL keys, NULL instants, NULL record ts and NULL
    tiebreakers. At most one NULL-id record per (entity, ts), so every
    pick is deterministic."""
    from datetime import timedelta

    recs, null_id_at = [], set()
    for e in range(n_ent):
        for _ in range(rng.randint(0, depth)):
            ts = t0 + timedelta(hours=rng.randint(0, 240))
            rid = f"r{len(recs):03d}"
            if rng.random() < 0.1 and (e, ts) not in null_id_at:
                null_id_at.add((e, ts))
                rid = None
            recs.append((rid, f"e{e}", rng.randint(0, 99), ts))
    recs.append(("r900", "e0", 111, t0 + timedelta(hours=5)))  # max id
    recs.append(("r901", "e0", 222, t0 + timedelta(hours=5)))  # wins tie
    recs.append(("r902", None, 333, t0 + timedelta(hours=5)))  # NULL key
    recs.append(("r903", "e1", 444, None))  # NULL ts
    spine = [
        (f"e{e}", t0 + timedelta(hours=rng.randint(0, 240)))
        for e in range(n_ent + 2)  # the last two have no records
        for _ in range(spine_per_ent)
    ]
    spine += [
        ("e0", t0 + timedelta(hours=5)),  # instant == the tied records' ts
        (None, t0 + timedelta(hours=9)),  # NULL key
        ("e1", None),  # NULL instant
    ]
    spine += [(r[1], r[3]) for r in rng.sample(recs, 3)]  # more equal ts
    return recs, spine


def test_as_of_join_pandas_matches_window_form_randomized(spark):
    """The sorted per-row plan, the merge_asof execution strategy and a
    brute-force scan agree row for row on random per-row-cutoff
    workloads: timestamp ties (max id wins, NULL ids lose), record ts
    equal to the spine instant, entities with no records, NULL keys,
    NULL instants, NULL record ts, tolerance bounds, ``how="inner"``
    and a ``date`` as-of column against a ``timestamp`` ts column.
    Deterministic seeds."""
    import random
    from datetime import datetime, timedelta

    from blackroad_feature_store_spark.operators.asof import (
        as_of_join,
        as_of_join_pandas,
    )

    cols = ("entity", "cutoff", "id", "val", "timestamp")
    key = lambda rows: sorted(map(tuple, rows), key=str)  # noqa: E731
    cases = [
        (5, None, "left", "timestamp"),
        (12, "36 hours", "left", "timestamp"),
        (7, None, "inner", "timestamp"),
        (8, "48 hours", "inner", "timestamp"),
        (9, None, "left", "date"),
        (10, "72 hours", "left", "date"),
    ]
    for seed, tol, how, cutoff_type in cases:
        rng = random.Random(seed)
        t0 = datetime(2026, 1, 1)
        recs, spine_rows = _random_pit_case(rng, t0)
        if cutoff_type == "date":
            spine_rows = [
                (e, c.date() if c is not None else None)
                for e, c in spine_rows
            ]
        records = spark.createDataFrame(
            recs, "id string, entity string, val int, timestamp timestamp"
        )
        spine = spark.createDataFrame(
            spine_rows, f"entity string, cutoff {cutoff_type}"
        )
        tol_kw = {"tolerance": tol} if tol else {}
        label = f"seed {seed} tol {tol} how {how} cutoff {cutoff_type}"
        tol_td = timedelta(hours=int(tol.split()[0])) if tol else None
        want = key(brute_force_per_row(spine_rows, recs, tol_td, how))

        a = as_of_join(
            spine, records, on="entity", ts_col="timestamp",
            as_of="cutoff", how=how, **tol_kw,
        ).select(*cols)
        assert key(a.collect()) == want, label

        # the pandas form is left-only and merges timestamps: compare
        # it on the timestamp-cast spine, keeping matched rows for inner
        pandas_spine = spine.withColumn(
            "cutoff", spine["cutoff"].cast("timestamp")
        )
        b = as_of_join_pandas(
            pandas_spine, records, on="entity", as_of_col="cutoff",
            ts_col="timestamp", **tol_kw,
        ).select(*cols)
        got_b = [
            (e, c.date() if cutoff_type == "date" and c else c, *rest)
            for e, c, *rest in b.collect()
            if how == "left" or rest[2] is not None
        ]
        assert key(got_b) == want, label


def test_asof_pandas_null_key_parity(spark):
    """NULL join keys never match in either execution form (SQL
    equality semantics). The window form gets this from its equality
    range-join; the pandas form must drop NULL-key records before the
    merge because merge_asof(by=) WOULD pair None/NaN keys. Both forms
    must agree: NULL-key spine rows survive with NULL payload."""
    from datetime import datetime

    from blackroad_feature_store_spark.operators.asof import (
        as_of_join,
        as_of_join_pandas,
    )

    records = spark.createDataFrame(
        [
            ("r0", None, 10, datetime(2026, 1, 1)),
            ("r1", None, 20, datetime(2026, 1, 3)),
            ("r2", "e1", 30, datetime(2026, 1, 2)),
        ],
        "id string, entity string, val int, timestamp timestamp",
    )
    spine = spark.createDataFrame(
        [
            (None, datetime(2026, 1, 2)),   # NULL key: NULL payload
            (None, datetime(2026, 1, 4)),   # NULL key: NULL payload
            ("e1", datetime(2026, 1, 4)),   # should see r2 (val 30)
            ("e2", datetime(2026, 1, 4)),   # no records: NULL payload
        ],
        "entity string, cutoff timestamp",
    )
    a = as_of_join(
        spine, records, on="entity", ts_col="timestamp", as_of="cutoff"
    ).select("entity", "cutoff", "id", "val")
    b = as_of_join_pandas(
        spine, records, on="entity", as_of_col="cutoff",
        ts_col="timestamp",
    ).select("entity", "cutoff", "id", "val")
    ka = sorted(map(tuple, a.collect()), key=str)
    kb = sorted(map(tuple, b.collect()), key=str)
    assert ka == kb
    by_key = {(r[0], r[1].day): (r[2], r[3]) for r in kb}
    assert by_key[(None, 2)] == (None, None)
    assert by_key[(None, 4)] == (None, None)
    assert by_key[("e1", 4)] == ("r2", 30)
    assert by_key[("e2", 4)] == (None, None)


def test_asof_map_payload_unmatched_row_all_forms(spark):
    """A spine row with no match gets a NULL map payload, not a NaN
    that breaks the Arrow conversion of the pandas form, and all three
    per-row entry points return identical rows. The unmatched row's
    entity has a record (after its cutoff), so the pandas form runs
    merge_asof on it rather than its no-records shortcut."""
    from datetime import datetime

    from blackroad_feature_store_spark.operators.asof import (
        as_of_join,
        as_of_join_auto,
        as_of_join_pandas,
    )

    records = spark.createDataFrame(
        [("r1", "e1", {"city": "berlin"}, datetime(2026, 1, 1))],
        "id string, entity string, _extras map<string,string>, "
        "timestamp timestamp",
    )
    spine = spark.createDataFrame(
        [("e1", datetime(2026, 1, 2)), ("e1", datetime(2025, 12, 31))],
        "entity string, cutoff timestamp",
    )
    forms = [
        as_of_join_pandas(spine, records, on="entity", as_of_col="cutoff"),
        as_of_join(spine, records, on="entity", as_of="cutoff"),
        as_of_join_auto(spine, records, on="entity", as_of_col="cutoff"),
    ]
    got = [sorted(map(tuple, df.collect()), key=str) for df in forms]
    assert got[0] == [
        ("e1", datetime(2025, 12, 31), None, None, None),
        ("e1", datetime(2026, 1, 2), "r1", {"city": "berlin"},
         datetime(2026, 1, 1)),
    ]
    assert got[1] == got[0] and got[2] == got[0]


def test_per_row_as_of_join_rejects_bad_how_and_collisions(spark):
    """The per-row form supports ``how`` left/inner only, and a column
    on both sides raises the same error as the pandas form."""
    from blackroad_feature_store_spark.operators.asof import (
        as_of_join,
        as_of_join_pandas,
    )

    records = spark.createDataFrame(
        [], "id string, entity string, val int, timestamp timestamp"
    )
    spine = spark.createDataFrame([], "entity string, cutoff timestamp")
    for how in ("right", "full", "left_anti"):
        with pytest.raises(ValueError, match="how=left|inner"):
            as_of_join(spine, records, on="entity", as_of="cutoff", how=how)
    clash = spine.withColumn("val", spine["cutoff"].cast("int"))
    for call in (
        lambda: as_of_join(clash, records, on="entity", as_of="cutoff"),
        lambda: as_of_join_pandas(
            clash, records, on="entity", as_of_col="cutoff"
        ),
    ):
        with pytest.raises(ValueError, match=r"collision.*\['val'\]"):
            call()


def test_latest_as_of_forward_direction_brute_force(spark):
    """Forward (label) direction vs a brute-force reference: earliest
    record >= cutoff within tolerance, ascending-id tiebreak."""
    import random
    from datetime import datetime, timedelta

    from blackroad_feature_store_spark.operators.asof import latest_as_of

    rng = random.Random(9)
    t0 = datetime(2026, 1, 1)
    cutoff = t0 + timedelta(hours=100)
    recs = []
    for e in range(6):
        for i in range(rng.randint(0, 12)):
            recs.append(
                (
                    f"r{e}_{i:02d}",
                    f"e{e}",
                    t0 + timedelta(hours=rng.randint(0, 200)),
                )
            )
    # forced tie exactly at the cutoff: min id must win (ASC tiebreak)
    recs.append(("r9_a", "e0", cutoff))
    recs.append(("r9_b", "e0", cutoff))
    df = spark.createDataFrame(recs, "id string, entity string, timestamp timestamp")

    got = {
        r["entity"]: r["id"]
        for r in latest_as_of(
            df, ["entity"], as_of=cutoff, direction="forward",
            tolerance="50 hours",
        ).collect()
    }
    want = {}
    for rid, e, ts in recs:
        if not (cutoff <= ts <= cutoff + timedelta(hours=50)):
            continue
        cur = want.get(e)
        if cur is None or (ts, rid) < cur[1]:
            want[e] = (rid, (ts, rid))
    assert got == {e: v[0] for e, v in want.items()}
    assert got["e0"] == "r9_a"  # the tie broke ascending

    import pytest as _pytest

    with _pytest.raises(ValueError, match="requires as_of"):
        latest_as_of(df, ["entity"], direction="forward")
    with _pytest.raises(ValueError, match="backward|forward"):
        latest_as_of(df, ["entity"], as_of=cutoff, direction="sideways")


def test_per_row_as_of_join_cuts_records_to_small_spine_keys(spark):
    """A small spine over a wide record set: the records are cut to the
    spine's keys by a broadcast semi join before the shuffle, so the
    other keys' histories never reach the sort."""
    from datetime import datetime, timedelta

    from blackroad_feature_store_spark.operators.asof import as_of_join

    t0 = datetime(2026, 1, 1)
    recs = spark.createDataFrame(
        [
            (e * 100 + i, f"e{e}", i, t0 + timedelta(hours=i))
            for e in range(50)
            for i in range(20)
        ],
        "id long, entity string, val int, timestamp timestamp",
    )
    # A VALUES relation, unlike a frame built from Python rows, carries
    # a size estimate, as a parquet or micro-batch spine does.
    spine = spark.sql(
        "SELECT * FROM VALUES ('e3', TIMESTAMP'2026-01-01 05:00:00'), "
        "('e7', TIMESTAMP'2025-12-31 23:00:00') AS s(entity, cutoff)"
    )
    df = as_of_join(
        spine, recs, on="entity", ts_col="timestamp", as_of="cutoff"
    )
    assert sorted(map(tuple, df.select("entity", "id", "val").collect()),
                  key=str) == [("e3", 305, 5), ("e7", None, None)]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_as_of_join_auto_picks_and_matches(spark):
    """``as_of_join_auto`` must (a) return rows identical to
    ``as_of_join`` on deep and on shallow history, (b) start no Spark
    job while building its plan (no eager probe of the data), and (c)
    plan no cogroup and no Python worker at any history depth."""
    from datetime import datetime, timedelta

    from blackroad_feature_store_spark.operators.asof import (
        as_of_join,
        as_of_join_auto,
    )

    t0 = datetime(2026, 1, 1)
    # deep: 2 entities x 40 snapshots (depth 40); shallow: 40 x 2
    deep = spark.createDataFrame(
        [
            (f"r{e}_{i:02d}", f"e{e}", i, t0 + timedelta(hours=i))
            for e in range(2)
            for i in range(40)
        ],
        "id string, entity string, val int, timestamp timestamp",
    )
    shallow = spark.createDataFrame(
        [
            (f"r{e}_{i}", f"e{e}", i, t0 + timedelta(hours=i))
            for e in range(40)
            for i in range(2)
        ],
        "id string, entity string, val int, timestamp timestamp",
    )
    spine = spark.createDataFrame(
        [(f"e{e}", t0 + timedelta(hours=10)) for e in range(40)],
        "entity string, cutoff timestamp",
    )
    for recs in (deep, shallow):
        auto = as_of_join_auto(
            spine, recs, on="entity", as_of_col="cutoff"
        ).select("entity", "cutoff", "id", "val")
        ref = as_of_join(
            spine, recs, on="entity", ts_col="timestamp", as_of="cutoff"
        ).select("entity", "cutoff", "id", "val")
        assert sorted(map(tuple, auto.collect()), key=str) == sorted(
            map(tuple, ref.collect()), key=str
        )
    sc = spark.sparkContext
    group = "as_of_join_auto_builds_lazily"
    sc.setJobGroup(group, "plan construction only")
    try:
        plans = [
            as_of_join_auto(spine, recs, on="entity", as_of_col="cutoff")
            for recs in (deep, shallow)
        ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    for df in plans:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CoGroup" not in plan
        assert "Python" not in plan and "Pandas" not in plan


try:
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    _HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAVE_HYPOTHESIS = False

if _HAVE_HYPOTHESIS:
    from datetime import datetime

    @st.composite
    def _pit_workload(draw):
        from datetime import datetime, timedelta

        t0 = datetime(2026, 1, 1)
        hours = st.integers(min_value=0, max_value=72)
        maybe = lambda v: draw(st.sampled_from([v, v, v, None]))  # noqa: E731
        n_ent = draw(st.integers(min_value=1, max_value=5))
        recs, null_id_at = [], set()
        for e in range(n_ent):
            for _ in range(draw(st.integers(min_value=0, max_value=6))):
                entity = maybe(f"e{e}")
                ts = maybe(t0 + timedelta(hours=draw(hours)))
                rid = maybe(f"r{len(recs):03d}")
                if rid is None:  # one NULL id per (entity, ts): no ambiguity
                    if (entity, ts) in null_id_at:
                        rid = f"r{len(recs):03d}"
                    null_id_at.add((entity, ts))
                recs.append(
                    (rid, entity, draw(st.integers(0, 99)), ts)
                )
        spine = [
            (
                maybe(f"e{draw(st.integers(min_value=0, max_value=n_ent + 1))}"),
                maybe(t0 + timedelta(hours=draw(hours))),
            )
            for _ in range(draw(st.integers(min_value=1, max_value=6)))
        ]
        tol = draw(st.sampled_from([None, "12 hours", "48 hours"]))
        how = draw(st.sampled_from(["left", "inner"]))
        return recs, spine, tol, how

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(_pit_workload())
    @example(  # a NULL-id record tied on ts with an id'd one: NULL loses
        case=(
            [(None, "e1", 0, datetime(2026, 1, 1)),
             ("r001", "e1", 0, datetime(2026, 1, 1))],
            [("e1", datetime(2026, 1, 1))],
            None,
            "left",
        )
    )
    def test_asof_strategies_agree_hypothesis(spark, case):
        """Shrinking fuzz: the sorted form, the pandas merge_asof form
        and a brute-force scan emit identical rows on arbitrary
        workloads — timestamp ties, entities beyond the record set,
        duplicate spine rows, NULL keys, instants, record ts and
        tiebreakers, tolerance bounds and inner joins included."""
        from datetime import datetime, timedelta

        from blackroad_feature_store_spark.operators.asof import (
            as_of_join,
            as_of_join_pandas,
        )

        recs, spine_rows, tol, how = case
        records = spark.createDataFrame(
            recs or [("r_none", "e_none", 0, datetime(2020, 1, 1))],
            "id string, entity string, val int, timestamp timestamp",
        )
        spine = spark.createDataFrame(
            spine_rows, "entity string, cutoff timestamp"
        )
        kw = {"tolerance": tol} if tol else {}
        cols = ("entity", "cutoff", "id", "val", "timestamp")
        key = lambda rows: sorted(map(tuple, rows), key=str)  # noqa: E731
        tol_td = timedelta(hours=int(tol.split()[0])) if tol else None
        want = key(brute_force_per_row(spine_rows, recs, tol_td, how))
        a = as_of_join(
            spine, records, on="entity", ts_col="timestamp",
            as_of="cutoff", how=how, **kw,
        ).select(*cols)
        b = as_of_join_pandas(
            spine, records, on="entity", as_of_col="cutoff",
            ts_col="timestamp", **kw,
        ).select(*cols)
        assert key(a.collect()) == want
        assert key(
            r for r in b.collect() if how == "left" or r[4] is not None
        ) == want


def reference_pit(snaps, groups, entities):
    """The reference's precedence and null-fill loop
    (feature_store.py:433-442) over given (group id, entity) snapshots."""
    out = []
    for e in entities:
        row = {"entity_id": e}
        for g in groups:
            values = snaps.get((g.id, e))
            if values:
                row.update(values)
            else:
                for f in g.features:
                    row.setdefault(f, None)
        out.append(row)
    return out


def test_driver_serving_read_matches_spark_latest_as_of(spark, tmp_path):
    """``get_features`` and ``point_in_time_join`` read their files with
    pyarrow on the driver; every answer must equal Spark's
    ``latest_as_of`` over ``records_df`` of the same version. The store
    mixes all three writers — ``write_records_df`` files (INT96 and,
    from a session set to write them, millisecond timestamps), pyarrow
    appends and a compacted file — with timestamp
    ties between NULL and non-NULL ids, NULL-ts records, empty maps and
    absent entities, read at several ``as_of`` × ``table_version``
    pairs; vacuumed and unknown versions keep raising."""
    import os
    from datetime import datetime, timedelta

    import pyarrow.parquet as pq

    from blackroad_feature_store_spark.operators.asof import latest_as_of
    from blackroad_feature_store_spark.store import (
        RECORDS_SCHEMA,
        decode_value,
        encode_value,
    )

    rng = random.Random(20261020)
    fs = FeatureStore(spark, str(tmp_path / "fs"))
    for name in ["a", "b"]:
        fs.register_feature(name, "user", "int")
    g1 = fs.create_group("p", ["a", "b"], "user_id")
    g2 = fs.create_group("q", ["a", "b"], "user_id")
    t0 = datetime(2026, 1, 1)
    days = [t0 + timedelta(days=d) for d in range(6)]  # coarse: many ties
    taken = set()  # (group, entity, ts, id): every pick is deterministic
    empty_maps = []

    def rows(n):
        out = []
        while len(out) < n:
            g = rng.choice([g1, g2])
            ent = f"u{rng.randrange(6)}"
            ts = rng.choice(days + [None])
            rid = None if rng.random() < 0.25 else f"r{rng.randrange(40):02d}"
            if (g.id, ent, ts, rid) in taken:
                continue
            taken.add((g.id, ent, ts, rid))
            vals = {
                k: rng.randrange(100)
                for k in rng.sample(["a", "b"], rng.randrange(3))
            }  # an empty map a third of the time
            out.append((g, ent, ts, rid, vals))
            empty_maps.append(not vals)
        return out

    def write_df(n):
        fs.write_records_df(
            spark.createDataFrame(
                [
                    (rid, g.id, ent,
                     {k: encode_value(v) for k, v in vals.items()}, ts, 1)
                    for g, ent, ts, rid, vals in rows(n)
                ],
                RECORDS_SCHEMA,
            )
        )

    write_df(40)  # INT96 timestamps, Spark's default
    # a session that writes millisecond timestamps (INT64 TIMESTAMP_MILLIS)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try:
        write_df(20)
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    for _ in range(2):
        fs.write_features_batch(
            EntityRecord(g.id, ent, vals, ts, id=rid)
            for g, ent, ts, rid, vals in rows(15)
        )
    assert {
        str(pq.read_schema(os.path.join(fs._records_path, f)).field(
            "timestamp").type)
        for f in fs._log.live_files()
    } == {"timestamp[ns]", "timestamp[ms, tz=UTC]", "timestamp[us, tz=UTC]"}
    fs.compact_records(g1.id)
    fs.write_features_batch(
        EntityRecord(g.id, ent, vals, ts, id=rid)
        for g, ent, ts, rid, vals in rows(15)
    )
    versions = fs._log.versions()
    assert [fs._log.read(v)["op"] for v in versions] == [
        "append", "append", "append", "append", "compact", "append"
    ]
    entities = [f"u{i}" for i in range(6)] + ["absent"]
    cutoffs = [None, days[0] - timedelta(hours=1), days[2],
               days[3] + timedelta(hours=12), days[-1]]

    def spark_answers(version, cutoff):
        top = latest_as_of(
            fs.records_df(version=version),
            keys=["group_id", "entity_id"],
            as_of=cutoff,
        ).collect()
        return {
            (r["group_id"], r["entity_id"]): {
                k: decode_value(v) for k, v in r["feature_values"].items()
            }
            for r in top
        }

    for version in (versions[1], versions[3], versions[-1]):
        for cutoff in cutoffs:
            want = spark_answers(version, cutoff)
            for g in (g1, g2):
                for ent in entities:
                    got = fs.get_features(
                        g.id, ent, as_of=cutoff, table_version=version
                    )
                    assert got == want.get((g.id, ent)), (
                        version, cutoff, g.name, ent
                    )
            if version == versions[-1] and cutoff is not None:
                for order in ([g1, g2], [g2, g1]):
                    got = fs.point_in_time_join(
                        entities, [g.id for g in order], cutoff
                    )
                    assert got == reference_pit(want, order, entities), (
                        cutoff, [g.name for g in order]
                    )
    assert any(ts is None for _, _, ts, _ in taken)
    assert any(rid is None for _, _, _, rid in taken)
    assert any(empty_maps)

    fs.vacuum(retain_versions=1, orphan_grace_seconds=0.0)
    with pytest.raises(ValueError, match="vacuumed"):
        fs.get_features(g1.id, "u0", table_version=versions[1])
    with pytest.raises(ValueError, match="does not exist"):
        fs.get_features(g1.id, "u0", table_version=versions[-1] + 7)
    want = spark_answers(None, days[-1])
    for ent in entities:
        assert fs.get_features(g2.id, ent, as_of=days[-1]) == want.get(
            (g2.id, ent)
        )

"""The benchmark's op sequences against the engine's public API.

One run builds fresh stores from the generated inputs, warms every op
kind it will time, then runs a fixed, seeded op sequence on one store.
There are three phases; the first two are timed by a workload each:

* build  (``training_set``)  — point-in-time training sets:
  ``typed_records_df`` → ``operators.asof.as_of_join_auto`` over both
  groups → noop sink;
* serve  (``lookup_ingest``) — cycles of Zipf-skewed ``get_features``
  lookups, one ``point_in_time_join``, one ``write_features_batch`` and
  the ``maybe_compact`` policy call;
* stream (traced runs only)  — ``streaming.stats`` drains
  (``start_stats_stream`` with ``availableNow``), ``merge_stats``
  reads, ``compact_stats`` and a read after it.

An untraced run times only its workload's phase. A traced run runs that
phase first, then a short round of each other phase, so that every
per-layer metric has a value on every workload. Every engine call goes through
:class:`Recorder`, which counts it as attempted or failed and times it.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from typing import Any, Callable

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import oracles
from inputs import FEATURES, SPINE_ROWS, STREAM_FEATURES, WRITE_RECORDS, Inputs

from blackroad_feature_store_spark.operators.asof import as_of_join_auto
from blackroad_feature_store_spark.store import EntityRecord, FeatureStore
from blackroad_feature_store_spark.streaming import stats as stream_stats
from blackroad_feature_store_spark.versioning import CommitLog

WORKLOADS = {  # workload -> (its phase, the phase's op count at NOMINAL_SECONDS)
    "training_set": ("build", 3),
    "lookup_ingest": ("serve", 2),
}
PHASES = ("build", "serve", "stream")
# A traced run also runs the phases its workload does not time, so that
# every per-layer metric has a value on every workload.
TRACED_ROUNDS = {"build": 1, "serve": 1, "stream": 2}
NOMINAL_SECONDS = 15
SETUPS = 3  # setup_s is the median of this many store builds
STATS_READS = 2  # merge_stats reads after each drain, before compaction
ISOLATED_JOINS = 2  # traced run: single-group joins per strategy
LOOKUP_PROBE_STRIDE = 16  # get_features checks every 16th probe entity; PIT checks all
FAILED = object()


def phase_counts(workload: str, seconds: float, trace: bool) -> dict[str, int]:
    """Op counts per phase. ``--seconds`` scales the workload's own
    phase; the same ``seconds`` always gives the same sequence, so
    store growth and compaction points repeat across runs and commits."""
    own, n = WORKLOADS[workload]
    counts = dict(TRACED_ROUNDS) if trace else dict.fromkeys(PHASES, 0)
    counts[own] = max(1, round(n * seconds / NOMINAL_SECONDS))
    return counts


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def ms_since(t0: float) -> float:
    return (time.perf_counter() - t0) * 1000.0


class Recorder:
    """Counts and times every engine call. A failed call is counted,
    its traceback goes to stderr and its message to ``errors``; it
    yields no timing sample. Under tracing each call runs in its own
    Spark job group and leaves a span for the event-log attribution."""

    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.trace = trace
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.spans: dict[str, list[tuple[str, float, float]]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def call(self, op: str, fn: Callable, *args, group_of: Callable | None = None,
             **kwargs) -> Any:
        self.attempted += 1
        group = f"{op}-{self.attempted}"
        if self.trace:
            self.sc.setJobGroup(group, op)
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as exc:  # counted and reported, never dropped
            self.failed += 1
            self.errors.append(f"{op}: {type(exc).__name__}: {exc}".splitlines()[0][:300])
            traceback.print_exc(file=sys.stderr)
            return FAILED
        finally:
            if self.trace:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.samples[op].append(ms_since(t0))
        if self.trace:
            g = group_of(out) if group_of else group
            self.spans[op].append((g, w0 * 1000.0, time.time() * 1000.0))
        return out


def _spin() -> None:
    x = 0
    for i in range(300_000):
        x += i * i


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far; (0, 0) off Linux."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


class Run:
    """One benchmark run: stores, warm-up, phases, oracles, metrics."""

    def __init__(self, spark, inputs: Inputs, root: str, workload: str,
                 seconds: float, trace: bool):
        self.spark = spark
        self.inp = inputs
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.workload = workload
        self.own = WORKLOADS[workload][0]
        self.counts = phase_counts(workload, seconds, trace)
        self.trace = trace
        self.rec = Recorder(spark, trace)
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.mismatches: list[str] = []
        self.host: dict[str, list[float]] = defaultdict(list)
        self.setup_s: list[float] = []
        self.write_ms: list[float] = []
        self.drain_s: list[float] = []
        self.batch_ms: list[float] = []
        self.compactions = 0
        self.phase_s: dict[str, float] = {}
        self._ticks: tuple[int, int] | None = None
        self._seq = 0

    # -- helpers ------------------------------------------------------

    def _path(self, name: str) -> str:
        self._seq += 1
        return os.path.join(self.root, f"{name}-{self._seq}")

    def _span(self, key: str, fn: Callable, *args, **kwargs) -> Any:
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self.layer[key].append(ms_since(t0))
        return out

    def _phase(self, name: str, fn: Callable, *args) -> None:
        t0 = time.perf_counter()
        fn(*args)
        self.phase_s[name] = time.perf_counter() - t0

    def host_probe(self) -> None:
        """Host speed samples; the first call also starts the steal
        count that the second one closes."""
        steal, total = _cpu_ticks()
        if self._ticks is None:
            self._ticks = (steal, total)
        elif total > self._ticks[1]:
            self.host["steal_pct"].append(
                100.0 * (steal - self._ticks[0]) / (total - self._ticks[1])
            )
        for _ in range(3):
            t0 = time.perf_counter()
            _spin()
            self.host["spin_ms"].append(ms_since(t0))
            t0 = time.perf_counter()
            self.spark.range(1).count()
            self.host["spark_trivial_ms"].append(ms_since(t0))

    # -- setup ----------------------------------------------------------

    def setup_store(self, path: str):
        """A fresh store holding the generated history: registry, two
        groups and one bulk ``write_records_df`` commit."""
        from pyspark.sql import functions as F

        fs = FeatureStore(self.spark, path)
        groups = {}
        for name, pre in (("profile", "p"), ("activity", "a")):
            fs.register_features(
                [{"name": f"{pre}_{f}", "entity_type": "user",
                  "dtype": "str" if f == "s1" else "float"} for f in FEATURES]
            )
            groups[name] = fs.create_group(name, [f"{pre}_{f}" for f in FEATURES], "user_id")
        gp, ga = groups["profile"], groups["activity"]
        df = self.spark.read.parquet(self.inp.records_path).withColumn(
            "group_id",
            F.when(F.col("group_id") == "profile", gp.id).otherwise(ga.id),
        )
        fs.write_records_df(df)
        return fs, gp, ga

    def setup(self) -> list:
        """``SETUPS`` fresh stores, each timed; the first (coldest) one
        hosts the warm-up, the last one the measured phases."""
        stores = []
        for _ in range(SETUPS):
            path = self._path("store")
            t0 = time.perf_counter()
            st = self.rec.call("setup", self.setup_store, path)
            self.setup_s.append(time.perf_counter() - t0)
            stores.append((path, st))
        spine_path = os.path.join(self.root, "spine.parquet")
        pq.write_table(
            pa.Table.from_pandas(
                self.inp.spine.assign(label_ts=self.inp.spine.label_ts.dt.tz_localize("UTC")),
                preserve_index=False,
            ),
            spine_path,
        )
        self.spine = self.spark.read.parquet(spine_path)
        self.stream_schema = self.spark.read.parquet(self.inp.stream_dir).schema
        return stores

    # -- build phase (store typed view, operators.asof) ------------------

    def training_frame(self, fs, gp, ga, groups=("p", "a")):
        """The projected training set: the spine joined as of
        ``label_ts`` to each group's declared features."""
        out = self.spine
        for g, pre in ((gp, "p"), (ga, "a")):
            if pre not in groups:
                continue
            view = self._span(
                "store.typed_view_ms",
                lambda: fs.typed_records_df(g.id)
                .withColumnRenamed("id", f"{pre}_id")
                .withColumnRenamed("timestamp", f"{pre}_ts")
                .select("entity_id", f"{pre}_id", f"{pre}_ts",
                        *[f"{pre}_{f}" for f in FEATURES]),
            )
            out = self._span(
                "asof.strategy_pick_ms",
                as_of_join_auto, out, view, on="entity_id", as_of_col="label_ts",
                ts_col=f"{pre}_ts", tiebreakers=(f"{pre}_id",),
            )
            if self.trace:
                plan = out._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
                self.layer[f"asof.pandas_form.{pre}"].append(
                    float("FlatMapCoGroupsInPandas" in plan)
                )
        return out

    @staticmethod
    def _sink(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def build_phase(self, fs, gp, ga) -> None:
        for _ in range(self.counts["build"]):
            self.rec.call("build", lambda: self._sink(self.training_frame(fs, gp, ga)))

    def full_view(self, fs, ga) -> None:
        """The unprojected typed view (with its ``_extras`` map) through
        the same join, counted like any other build."""
        self.rec.call(
            "full_view",
            lambda: self._sink(
                as_of_join_auto(self.spine, fs.typed_records_df(ga.id),
                                on="entity_id", as_of_col="label_ts")
            ),
        )

    def isolated_joins(self, fs, gp, ga) -> None:
        """Traced run: each group's join alone — ``profile`` (shallow)
        takes the window form, ``activity`` (deep) the pandas form."""
        for _ in range(ISOLATED_JOINS):
            for pre, key in (("p", "asof.window_ms"), ("a", "asof.pandas_ms")):
                t0 = time.perf_counter()
                r = self.rec.call(
                    "asof_" + pre, lambda: self._sink(self.training_frame(fs, gp, ga, (pre,)))
                )
                if r is not FAILED:
                    self.layer[key].append(ms_since(t0))

    def check_training_set(self, fs, gp, ga) -> None:
        cols = oracles.training_columns([self.inp.profile, self.inp.activity])
        got = self.rec.call(
            "oracle_build",
            lambda: [tuple(r) for r in self.training_frame(fs, gp, ga).select(*cols).collect()],
        )
        if got is not FAILED:
            want = oracles.expected_training_set(
                self.inp.spine, [self.inp.profile, self.inp.activity]
            )
            self.mismatches += oracles.check_training_set(want, cols, got)

    # -- serve phase (store, versioning) -------------------------------

    @staticmethod
    def _records(gp, frame: pd.DataFrame) -> list[EntityRecord]:
        return [
            EntityRecord(
                gp.id, ent,
                {"p_f1": float(f1), "p_f2": float(f2), "p_f3": float(f3), "p_s1": s1},
                ts.to_pydatetime(), id=rid,
            )
            for rid, ent, ts, f1, f2, f3, s1 in frame[
                ["id", "entity_id", "timestamp", "p_f1", "p_f2", "p_f3", "p_s1"]
            ].itertuples(index=False)
        ]

    @staticmethod
    def _log(fs) -> CommitLog:
        return CommitLog(os.path.join(fs.base_path, "_versions"))

    def _profile_entries(self, fs, gp) -> list[dict]:
        prefix = f"group_id={gp.id}/"
        return [e for e in self._log(fs).live_entries() if e["path"].startswith(prefix)]

    def serve_phase(self, fs, gp, ga, model: oracles.LatestModel) -> None:
        # Compaction fires once profile holds two files more than the
        # bulk load left: on every second append.
        max_files = len(self._profile_entries(fs, gp)) + 1
        for c in range(self.counts["serve"]):
            if self.trace:
                self.layer["store.live_files"].append(len(self._profile_entries(fs, gp)))
            for ent in self.inp.lookups[c]:
                if self.trace:
                    df = self._span("store.records_df_ms", fs.records_df, gp.id, entity_id=ent)
                    self.layer["store.files_per_lookup"].append(len(df.inputFiles()))
                self.rec.call("lookup", fs.get_features, gp.id, ent)
            self.rec.call(
                "pit_dict", fs.point_in_time_join, self.inp.pit_sets[c], [gp.id, ga.id]
            )
            frame = self.inp.writes[c]
            wrote = self.rec.call("write", fs.write_features_batch, self._records(gp, frame))
            if wrote is not FAILED:
                model.add(gp.id, frame, "p")
            if self.trace:
                self._span("versioning.live_entries_ms", self._log(fs).live_entries)
            n = self.rec.call("compact", fs.maybe_compact, gp.id, max_files=max_files)
            if n is FAILED or wrote is FAILED:
                continue
            if n:
                self.compactions += 1
                self.layer["store.compact_ms"].append(self.rec.samples["compact"][-1])
            # A write's latency includes its policy-compaction call.
            self.write_ms.append(self.rec.samples["write"][-1] + self.rec.samples["compact"][-1])
        if self.trace:
            self._store_footprint(fs)

    def _store_footprint(self, fs) -> None:
        log = self._log(fs)
        rec_dir = os.path.join(fs.base_path, "entity_records")
        live = {e["path"] for e in log.live_entries()}
        disk = live_bytes = 0
        for d, _sub, files in os.walk(rec_dir):
            for f in files:
                if f.endswith(".parquet"):
                    size = os.path.getsize(os.path.join(d, f))
                    disk += size
                    if os.path.relpath(os.path.join(d, f), rec_dir) in live:
                        live_bytes += size
        self.layer["store.disk_bytes_per_user_byte"].append(disk / live_bytes)
        self.layer["versioning.log_bytes"].append(
            sum(os.path.getsize(os.path.join(log.dir, f)) for f in os.listdir(log.dir))
        )
        self.layer["versioning.commits"].append(len(log.versions()))

    def check_serving(self, fs, gp, ga, model: oracles.LatestModel) -> None:
        probe = self.inp.probe_entities
        got = {}
        for ent in probe[::LOOKUP_PROBE_STRIDE]:
            ans = self.rec.call("oracle_lookup", fs.get_features, gp.id, ent)
            if ans is not FAILED:
                got[ent] = ans
        self.mismatches += oracles.check_lookups(model, gp.id, got)
        rows = self.rec.call("oracle_pit", fs.point_in_time_join, probe, [gp.id, ga.id])
        if rows is not FAILED:
            self.mismatches += oracles.check_pit(
                model, [(gp.id, gp.features), (ga.id, ga.features)], probe, rows
            )

    # -- stream phase (streaming.stats) --------------------------------

    def _drain(self, src: str, stats_path: str, checkpoint: str):
        reader = (
            self.spark.readStream.schema(self.stream_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_stats.start_stats_stream(
            reader, stats_path, checkpoint, ["group"], list(STREAM_FEATURES),
            available_now=True,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def _read_stats(self, stats_path: str) -> dict:
        rows = stream_stats.merge_stats(self.spark, stats_path).collect()
        return {
            (r["group"], r["feature"]): (r["n"], r["n_null"], r["sum_value"],
                                         r["min_value"], r["max_value"])
            for r in rows
        }

    def warm_drain(self) -> None:
        stats_path, checkpoint = self._path("stats"), self._path("checkpoint")
        if self.rec.call("warm_drain", self._drain, self.inp.stream_warm_dir,
                         stats_path, checkpoint) is not FAILED:
            self.rec.call("warm_stats_read", self._read_stats, stats_path)

    def drain_once(self, expected: dict) -> None:
        stats_path, checkpoint = self._path("stats"), self._path("checkpoint")
        t0 = time.perf_counter()
        q = self.rec.call("drain", self._drain, self.inp.stream_dir, stats_path, checkpoint,
                          group_of=lambda q: str(q.runId))
        wall = time.perf_counter() - t0
        if q is FAILED:
            return
        progress = q.recentProgress
        self.drain_s.append(wall)
        for p in progress:
            d = p["durationMs"]
            self.batch_ms.append(float(d["triggerExecution"]))
            self.layer["stream.add_batch_ms"].append(float(d.get("addBatch", 0)))
            self.layer["stream.engine_ms"].append(float(d["triggerExecution"] - d.get("addBatch", 0)))
        self.layer["stream.batches"].append(float(len(progress)))
        rows = sum(p["numInputRows"] for p in progress)
        if rows != len(self.inp.stream):
            self.mismatches.append(f"drain read {rows} rows, source has {len(self.inp.stream)}")
        for _ in range(STATS_READS):
            got = self.rec.call("stats_read", self._read_stats, stats_path)
            if got is not FAILED:
                self.mismatches += oracles.check_stats(expected, got, "before compaction")
        batches = os.path.join(stats_path, "batches")
        self.layer["stream.live_partials"].append(
            float(sum(n.startswith("batch_id=") for n in os.listdir(batches)))
        )
        last = max(p["batchId"] for p in progress)
        if self.rec.call("stream_compact", stream_stats.compact_stats,
                         self.spark, stats_path, last) is not FAILED:
            self.layer["stream.compact_ms"].append(self.rec.samples["stream_compact"][-1])
        got = self.rec.call("stats_read_after", self._read_stats, stats_path)
        if got is not FAILED:
            self.layer["stream.read_after_compact_ms"].append(
                self.rec.samples["stats_read_after"][-1]
            )
            self.mismatches += oracles.check_stats(expected, got, "after compaction")
        shutil.rmtree(stats_path, ignore_errors=True)
        shutil.rmtree(checkpoint, ignore_errors=True)

    def stream_phase(self) -> None:
        expected = oracles.expected_stats(self.inp.stream)
        for _ in range(self.counts["stream"]):
            self.drain_once(expected)

    # -- the run -------------------------------------------------------

    def warm_up(self, fs, gp, ga) -> None:
        """One call of each op kind the run times, untimed, on a store
        the measured phases never see: first calls run 2-3x slower."""
        c = self.counts
        if c["build"]:
            # The warm-up build is the oracle's build: this store holds
            # exactly what the measured store holds before any append.
            self.check_training_set(fs, gp, ga)
        if c["serve"]:
            self.rec.call("warm_lookup", fs.get_features, gp.id, self.inp.lookups[0][0])
            self.rec.call("warm_pit", fs.point_in_time_join, self.inp.pit_sets[0], [gp.id, ga.id])
            self.rec.call("warm_write", fs.write_features_batch,
                          self._records(gp, self.inp.writes[0]))
            self.rec.call("warm_compact", fs.maybe_compact, gp.id, max_files=0)
        if c["stream"]:
            self.warm_drain()

    def execute(self) -> None:
        t0 = time.perf_counter()
        stores = self.setup()
        self.phase_s["setup"] = time.perf_counter() - t0
        (_warm_path, warm), *_ = stores
        if warm is not FAILED:
            self._phase("warm_up", self.warm_up, *warm)
        for path, _st in stores[:-1]:
            shutil.rmtree(path, ignore_errors=True)
        self.layer.clear()
        self.rec.samples.clear()
        self.rec.spans.clear()
        self.host_probe()
        _path, st = stores[-1]
        if st is FAILED:
            self.mismatches.append("setup failed")
            return
        fs, gp, ga = st
        model = oracles.LatestModel()
        model.add(gp.id, self.inp.profile.frame, "p")
        model.add(ga.id, self.inp.activity.frame, "a")
        run = {
            "build": lambda: self.build_phase(fs, gp, ga),
            "serve": lambda: self.serve_phase(fs, gp, ga, model),
            "stream": self.stream_phase,
        }
        # The workload's own phase first, then (traced run) the others.
        for phase in (self.own, *[p for p in PHASES if p != self.own]):
            if self.counts[phase]:
                self._phase(phase, run[phase])
        if self.workload == "training_set":
            self.full_view(fs, ga)
        if self.trace:
            self.isolated_joins(fs, gp, ga)
        if self.counts["serve"]:
            self._phase("serve_oracle", self.check_serving, fs, gp, ga, model)
        self.host_probe()

    # -- metrics -------------------------------------------------------

    def calls(self) -> dict[str, tuple[float, str]]:
        """Per-call figures of every phase that ran, by call kind."""
        s = self.rec.samples
        out: dict[str, tuple[float, str]] = {}
        if s["build"]:
            out["train_build_ms_p50"] = (p50(s["build"]), "ms")
            out["train_rows_per_s"] = (SPINE_ROWS * len(s["build"]) / (sum(s["build"]) / 1e3),
                                       "rows/s")
        if s["lookup"]:
            out["lookup_ms_p50"] = (p50(s["lookup"]), "ms")
            out["lookup_ms_p90"] = (p90(s["lookup"]), "ms")
            out["pit_dict_ms_p50"] = (p50(s["pit_dict"]), "ms")
        if self.write_ms:
            out["write_ms_p50"] = (p50(self.write_ms), "ms")
            out["ingest_rows_per_s"] = (WRITE_RECORDS * len(self.write_ms)
                                        / (sum(self.write_ms) / 1e3), "rows/s")
        if self.drain_s:
            out["stream_rows_per_s"] = (len(self.inp.stream) * len(self.drain_s)
                                        / sum(self.drain_s), "rows/s")
            out["batch_ms_p50"] = (p50(self.batch_ms), "ms")
            out["stats_read_ms_p50"] = (p50(s["stats_read"]), "ms")
        return out

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        """The benchmark's end-to-end metrics, each measured on the
        workload's own phase (see README.md for what each one is on
        each workload)."""
        c = self.calls()
        latency, rows = {
            "build": ("train_build_ms_p50", "train_rows_per_s"),
            "serve": ("lookup_ms_p50", "ingest_rows_per_s"),
        }[self.own]
        return {
            "latency_ms_p50": (c[latency][0], "ms"),
            "rows_per_s": (c[rows][0], "rows/s"),
            "sequence_s": (self.phase_s[self.own], "s"),
            "setup_s": (p50(self.setup_s), "s"),
        }

    def per_layer(self, spark_ops: dict[str, float]) -> dict[str, tuple[float, str]]:
        L = self.layer

        def mean(k):
            return sum(L[k]) / len(L[k]) if L[k] else 0.0

        out = {
            "store.records_df_ms_p50": (p50(L["store.records_df_ms"]), "ms"),
            "store.files_per_lookup": (mean("store.files_per_lookup"), "files"),
            "store.live_files": (mean("store.live_files"), "files"),
            "store.compactions": (float(self.compactions), "count"),
            "store.compact_ms_p50": (p50(L["store.compact_ms"]), "ms"),
            "store.disk_bytes_per_user_byte": (mean("store.disk_bytes_per_user_byte"), "ratio"),
            "store.typed_view_ms_p50": (p50(L["store.typed_view_ms"]), "ms"),
            "versioning.live_entries_ms_p50": (p50(L["versioning.live_entries_ms"]), "ms"),
            "versioning.log_bytes": (mean("versioning.log_bytes"), "bytes"),
            "versioning.commits": (mean("versioning.commits"), "count"),
            "asof.window_ms_p50": (p50(L["asof.window_ms"]), "ms"),
            "asof.pandas_ms_p50": (p50(L["asof.pandas_ms"]), "ms"),
            "asof.strategy_pick_ms_p50": (p50(L["asof.strategy_pick_ms"]), "ms"),
            # Joins per build that took the pandas form (1: activity).
            "asof.strategy": (sum(p50(L[f"asof.pandas_form.{p}"]) for p in "pa"), "joins"),
            "stream.add_batch_ms_p50": (p50(L["stream.add_batch_ms"]), "ms"),
            "stream.engine_ms_p50": (p50(L["stream.engine_ms"]), "ms"),
            "stream.batches": (sum(L["stream.batches"]), "count"),
            "stream.live_partials": (mean("stream.live_partials"), "count"),
            "stream.compact_ms_p50": (p50(L["stream.compact_ms"]), "ms"),
            "stream.read_after_compact_ms_p50": (p50(L["stream.read_after_compact_ms"]), "ms"),
            "host.spin_ms": (p50(self.host["spin_ms"]), "ms"),
            "host.spark_trivial_ms": (p50(self.host["spark_trivial_ms"]), "ms"),
            "host.steal_pct": (p50(self.host["steal_pct"]), "%"),
        }
        for k, v in spark_ops.items():
            unit = "ms" if k.endswith("_ms") else "bytes" if k.endswith("_bytes") else "count"
            out[k] = (v, unit)
        return out

"""Plan-shape regression tests — pin the physical-plan properties the
100 TB design depends on (pushdown, pruning, broadcast, bucketing), so
a refactor that silently loses one fails CI, not the cluster.
"""

import re

import pytest
from pyspark.sql import functions as F

from blackroad_feature_store_spark.plans import driver_queries as dq

from blackroad_feature_store_spark.sources.testdata import sf_dir as _sf_dir

SF = _sf_dir("sf0.001")


def formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = formatted_plan(dq.core_scan_filter_project(spark, SF))
    # the part-type filter must reach the parquet reader, not sit in a
    # post-scan Filter only
    assert "PushedFilters: [" in plan
    assert "PushedFilters: []" not in plan


def test_column_pruning_reaches_scan(spark):
    plan = formatted_plan(dq.core_scan_filter_project(spark, SF))
    # ReadSchema must be narrowed to the projected columns — p_retailprice
    # (present in part.parquet) must NOT be read
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and all("p_retailprice" not in ln for ln in read)


def test_small_dims_broadcast(spark):
    plan = formatted_plan(dq.tpch_q5_local_supplier(spark, SF))
    assert "BroadcastHashJoin" in plan  # region/nation never shuffle


def test_asof_top1_uses_window_group_limit(spark):
    # Spark 4 plans top-1-per-key with WindowGroupLimit (map-side top-1
    # before the exchange) — losing it would shuffle every record
    plan = formatted_plan(dq.core_asof_top1(spark, SF))
    assert "WindowGroupLimit" in plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    # Co-located join: both sides bucketed by the join key into the
    # same bucket count — the sort-merge join must read buckets
    # directly with NO Exchange on either side. This is the 100 TB
    # fact-to-fact join strategy (pre-bucket once, join many times).
    orders = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice")
    )
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(tmp_path / "b_orders"))
        .saveAsTable("b_orders")
    )
    (
        li.withColumnRenamed("l_orderkey", "o_orderkey")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(tmp_path / "b_lineitem"))
        .saveAsTable("b_lineitem")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"), "o_orderkey"
        )
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # buckets align: zero shuffle
        # and it actually computes the right thing
        n = joined.count()
        assert n == li.count()  # every lineitem matches its order
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_group_stats_single_aggregation(spark):
    # statistics() must stay ONE partial+final hash aggregation — a
    # second Exchange would mean a second scan/shuffle crept in
    plan = formatted_plan(dq.core_group_stats(spark, SF))
    assert plan.count("Exchange") <= 2  # 1 shuffle (+1 AQE read marker)


def test_chunks_plan_has_no_exchange(spark):
    # Chunking is a narrow projection + explode: any Exchange appearing
    # here means a refactor added an accidental shuffle.
    plan = formatted_plan(dq.pipeline_chunks(spark, SF))
    assert "Exchange" not in plan


def test_pack_sequences_single_shuffle(spark):
    # One exchange total: the per-source window partition. The grouped
    # agg on (source, bin_id) reuses that partitioning only if the
    # planner sees it — but it must never exceed two.
    plan = formatted_plan(dq.pipeline_pack_sequences(spark, SF))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))
    assert n_exchanges <= 2, plan


def test_minhash_signatures_single_exchange(spark):
    # The spread() repartition must be the ONLY exchange: the groupBy
    # that computes the band minima is keyed on the same doc id, so
    # the planner reuses the spread partitioning. A second shuffle
    # here means that reuse broke (e.g. the spread key drifted from
    # the aggregation key).
    from blackroad_feature_store_spark.operators.dedup import (
        minhash_signatures,
    )
    from blackroad_feature_store_spark.sources.testdata import load

    sigs = minhash_signatures(load(spark, SF, "documents"))
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_decontaminate_corpus_never_shuffle_joins(spark):
    # Both joins against the corpus must be broadcast: a
    # SortMergeJoin/ShuffledHashJoin here means the benchmark or hit
    # set stopped broadcasting and the corpus pays a shuffle.
    plan = formatted_plan(dq.pipeline_decontaminate(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_q10_orders_never_force_broadcast(spark):
    # orders is a date-filtered FACT table: small at test SF, multi-GB
    # at cluster scale. A forced broadcast() on it OOMs at 100× — the
    # only explicit hints allowed are the two dim-side ones (nation,
    # cust×nation); lineitem×orders must be left to AQE.
    analyzed = (
        dq.tpch_q10_returns(spark, SF)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert analyzed.count("ResolvedHint") == 2, analyzed


def test_current_ts_shape_survives_non_utc_driver_tz(spark):
    # The epoch bound is computed driver-side in Python; a naive
    # datetime's .timestamp() is interpreted as LOCAL time, so under a
    # non-UTC TZ the bound would shift by the zone offset and the row
    # would vanish. Pin: 1 row regardless of the driver's zone.
    import os
    import time

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"  # UTC-4/-5: beyond the 1h bound
    time.tzset()
    try:
        assert dq.core_current_ts_shape(spark, SF).count() == 1
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_json_props_parse_stays_in_scan_stage(spark):
    # get_json_object must be a projection expression feeding a partial
    # aggregate — no separate shuffle before the parse.
    plan = formatted_plan(dq.core_json_props(spark, SF))
    assert "get_json_object" in plan
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))
    assert n_exchanges == 1, plan  # only the groupBy(event_type) shuffle


def test_q3_no_forced_broadcast(spark):
    # orders is nearly unfiltered by Q3's date predicate (TPC-H dates
    # run 1992-1998): a forced broadcast on the orders⋈customer side
    # OOMs at cluster scale. Strategy must be AQE's choice: 0 hints.
    analyzed = (
        dq.tpch_q3_shipping(spark, SF)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "ResolvedHint" not in analyzed, analyzed


# -- catalog-wide sweeps ----------------------------------------------------

# Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
# each crossJoins a BROADCAST side that is one row (balanced-sample
# class floor, top-k query vector) or centroid-table-sized (IVF) —
# bounded at any data scale.
_BNLJ_WHITELIST = {
    "pipeline_balanced_sample",
    "sim_cosine_topk",
    # hard negatives: same broadcast-query crossJoin as sim_cosine_topk
    # (query side is a handful of rows at any corpus size)
    "sim_hard_negatives",
    "sim_cosine_topk_ivf",
    "tpch_q22_dormant_customers",  # one-row scalar-subquery broadcast
    # centroid assignment crossJoins the broadcast centroid frame
    # (bounded at any corpus size), same as sim_cosine_topk_ivf
    "dedup_semantic",
    # NB scoring crossJoins two one-row scalar aggregates (vocab size,
    # doc total) and the #classes-row class dimension — all bounded at
    # any corpus size; the token-weight join itself is an equi-join
    "pipeline_nb_source_classify",
    # same NB machinery in char3 mode — identical bounded crossJoins
    "text_lang_id",
    # IVFADC: centroid-assignment + probe crossJoins against the
    # broadcast centroid frame (bounded at any corpus size), same as
    # sim_cosine_topk_ivf / dedup_semantic
    "sim_cosine_topk_ivfpq",
    # k-means assignment crossJoins the broadcast k-row sum-centroid
    # frame (bounded by k at any corpus size) — same class as
    # sim_cosine_topk_ivf / dedup_semantic
    "ml_kmeans_clusters",
    "sim_cosine_topk_ivf_kmeans",
    "dedup_semantic_kmeans",
}

# stream_exec_* queries EXECUTE a stream inside the callable and
# return a memory-sink scan — nothing to sweep, lots to pay.
_SWEEP_SKIP_PREFIX = "stream_exec_"


def test_catalog_plans_no_cartesian_or_unplanned_bnlj(spark):
    """Every catalog query's physical plan is free of CartesianProduct
    and of BroadcastNestedLoopJoin outside the whitelist — the class of
    plan that silently works at test SF and detonates at 100×."""
    bad = {}
    for name, fn in dq.QUERIES.items():
        if name.startswith(_SWEEP_SKIP_PREFIX):
            continue
        plan = dq.QUERIES[name](spark, SF)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_WHITELIST:
            flags.append("BroadcastNestedLoopJoin")
        if flags:
            bad[name] = flags
    assert not bad, f"scale-hostile plan shapes: {bad}"


def _fact_broadcast_offenders(src: str) -> list:
    """AST scan: every ``F.broadcast(...)`` call whose argument derives
    from a FACT table (by load() literal or variable naming)."""
    import ast

    tree = ast.parse(src)
    facts = ("orders", "lineitem", "events", "documents", "embeddings")
    offenders = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.FunctionDef):
            continue
        for call in ast.walk(node):
            if not (
                isinstance(call, ast.Call)
                and isinstance(call.func, ast.Attribute)
                and call.func.attr == "broadcast"
            ):
                continue
            seg = ast.get_source_segment(src, call) or ""
            # flag a broadcast whose ARGUMENT text mentions a fact
            # table load or a variable named after one
            arg_txt = seg[len("F.broadcast(") :] if seg.startswith(
                "F.broadcast("
            ) else seg
            for t in facts:
                if f'"{t}"' in arg_txt or arg_txt.strip().startswith(
                    (f"{t}.", f"{t})", t + ",")
                ) or arg_txt.strip() == t:
                    offenders.append((node.name, t, seg[:100]))
    return offenders


def test_catalog_source_never_force_broadcasts_fact_tables():
    """No F.broadcast(...) whose argument derives from a fact table
    anywhere in the catalog source. Dim tables (region/nation/customer
    at registry scale) may be hinted; fact-side strategy belongs to
    AQE. This is the regression wire for the Q10/Q3 forced-broadcast
    class — reintroducing broadcast(orders) fails here, not in a human
    plan audit."""
    import inspect

    with open(inspect.getsourcefile(dq)) as fh:
        src = fh.read()
    assert _fact_broadcast_offenders(src) == []


def test_fact_broadcast_lint_catches_reintroduction():
    """Mutation check: the lint actually fires on the defect it guards
    against — both the literal-load form and the named-variable form
    that Q3 shipped with before round 6."""
    mutants = [
        'def q(spark, sf):\n'
        '    return li.join(F.broadcast(load(spark, sf, "orders")), "k")\n',
        'def q(spark, sf):\n'
        '    orders = load(spark, sf, "orders").where(F.col("d") < c)\n'
        '    return li.join(F.broadcast(orders.join(cust, "k")), "k")\n',
    ]
    for src in mutants:
        assert _fact_broadcast_offenders(src), f"lint missed: {src}"


# Who may touch the stream and scratch machinery: each name (a key may
# be dotted, for an attribute read off a name or another attribute) is
# used only inside the top-level functions that own it; a method of a
# top-level class is named ``Class.method``.
_CATALOG_DRAIN_OWNERS = {
    "mkdtemp": {"_scratch"},
    "awaitTermination": {"_await"},
    "writeStream": {"_drain_memory"},
}
_STREAMING_DRAIN_OWNERS = {"writeStream.foreachBatch": {"start_foreach_batch"}}
# The one local JSON control-file writer (``streaming/fsio.py``); the
# commit log's exclusive-link commit and the registry's parquet rename
# and compaction recovery are the only other writers and renames.
_CONTROL_FILE_OWNERS = {
    "json.dump": {"write_json_atomic", "CommitLog.commit"},
    "os.replace": {
        "write_json_atomic",
        "FeatureStore._atomic_write",
        "FeatureStore._recover_compaction",
    },
}


def _drain_offenders(src: str, owners: dict) -> list:
    """AST scan: each use of a name or attribute in ``owners`` outside
    the top-level functions that own it, as (function, use, line)."""
    import ast

    def uses(node):
        if isinstance(node, ast.Name):
            return [node.id]
        if not isinstance(node, ast.Attribute):
            return []
        if isinstance(node.value, ast.Attribute):
            return [node.attr, f"{node.value.attr}.{node.attr}"]
        if isinstance(node.value, ast.Name):
            return [node.attr, f"{node.value.id}.{node.attr}"]
        return [node.attr]

    offenders = []

    def visit(node, top, cls):
        for child in ast.iter_child_nodes(node):
            fn, inner = top, cls
            if top is None and isinstance(child, ast.FunctionDef):
                fn = f"{cls}.{child.name}" if cls else child.name
            elif top is None and isinstance(child, ast.ClassDef):
                inner = child.name
            offenders.extend(
                (fn, u, child.lineno)
                for u in uses(child)
                if u in owners and fn not in owners[u]
            )
            visit(child, fn, inner)

    visit(ast.parse(src), None, None)
    return offenders


def test_stream_drain_and_scratch_have_one_owner_each():
    """The catalog reaches ``mkdtemp``, ``awaitTermination`` and
    ``writeStream`` only through its scratch and drain helpers, and no
    streaming module starts a foreachBatch sink but
    ``start_foreach_batch`` — a hand-written drain fails here."""
    import glob
    import inspect
    import os

    from blackroad_feature_store_spark.streaming import partials

    with open(inspect.getsourcefile(dq)) as fh:
        assert _drain_offenders(fh.read(), _CATALOG_DRAIN_OWNERS) == []
    stream_dir = os.path.dirname(inspect.getsourcefile(partials))
    for path in sorted(glob.glob(f"{stream_dir}/*.py")):
        with open(path) as fh:
            assert (
                _drain_offenders(fh.read(), _STREAMING_DRAIN_OWNERS) == []
            ), path


def test_stream_drain_lint_catches_each_offence():
    """Mutation check: the lint fires on each offence it guards."""
    catalog = [
        'def q(spark, sf):\n'
        '    base = tempfile.mkdtemp(prefix="stream_x_")\n',
        'def q(spark, sf):\n'
        '    q_ = start_stats_stream(s, p, c, ["k"], "v", True)\n'
        '    q_.awaitTermination()\n',
        'def q(spark, sf):\n'
        '    s.writeStream.format("memory").queryName("t").start()\n',
    ]
    for src in catalog:
        assert _drain_offenders(src, _CATALOG_DRAIN_OWNERS), src
    streaming = (
        'def start_x_stream(records, fn, checkpoint):\n'
        '    return records.writeStream.foreachBatch(fn).start()\n'
    )
    assert _drain_offenders(streaming, _STREAMING_DRAIN_OWNERS), streaming
    # the owners themselves pass
    assert not _drain_offenders(
        'def _await(query):\n    query.awaitTermination()\n',
        _CATALOG_DRAIN_OWNERS,
    )


def test_json_control_files_have_one_writer():
    """Package-wide, ``json.dump`` appears only in the one control-file
    writer and the commit log's commit, and ``os.replace`` only in that
    writer and the registry's parquet rename and compaction recovery —
    a hand-rolled write-and-rename fails here."""
    import glob
    import inspect
    import os

    import blackroad_feature_store_spark as pkg

    pkg_dir = os.path.dirname(inspect.getsourcefile(pkg))
    paths = sorted(glob.glob(f"{pkg_dir}/**/*.py", recursive=True))
    assert len(paths) > 20, paths
    for path in paths:
        with open(path) as fh:
            assert _drain_offenders(fh.read(), _CONTROL_FILE_OWNERS) == [], path


def test_json_control_file_lint_catches_each_offence():
    """Mutation check: a store method writing its own JSON, a module
    function renaming its own temp file and a commit-log method other
    than ``commit`` all fire; the owners and look-alikes
    (``json.dumps``, ``str.replace``) pass."""
    offences = [
        'class FeatureStore:\n'
        '    def tag_version(self, name):\n'
        '        with open(tmp, "w") as fh:\n'
        '            json.dump({"version": 1}, fh)\n',
        'def save(path, obj):\n'
        '    os.replace(path + ".tmp", path)\n',
        'class CommitLog:\n'
        '    def _maybe_checkpoint(self, v):\n'
        '        json.dump(doc, fh)\n',
    ]
    for src in offences:
        assert _drain_offenders(src, _CONTROL_FILE_OWNERS), src
    clean = (
        'def write_json_atomic(path, obj):\n'
        '    json.dump(obj, f)\n'
        '    os.replace(tmp, path)\n'
        'class CommitLog:\n'
        '    def commit(self, op):\n'
        '        json.dump(doc, fh)\n'
        'def encode_value(v):\n'
        '    return json.dumps(v).replace("a", "b")\n'
    )
    assert not _drain_offenders(clean, _CONTROL_FILE_OWNERS)


def test_stream_drain_bounded_wait_stops_and_raises(spark):
    """A drain whose bounded wait runs out stops the query and raises
    rather than handing back a partial sink: a rate source under the
    default trigger never terminates."""
    q_ = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("noop").start()
    )
    try:
        with pytest.raises(TimeoutError):
            dq._await(q_, 2)
        assert not q_.isActive
    finally:
        q_.stop()


def test_catalog_scratch_sits_under_one_root_removed_at_exit(spark):
    """Catalog scratch — store roots and written-out sources alike —
    lands under one per-process root beside where ``mkdtemp`` puts
    directories, and the exit hook removes the whole root."""
    import os
    import tempfile

    dq._remove_scratch_root()
    before = set(os.listdir(tempfile.gettempdir()))
    dq.store_registry_ops(spark, SF).collect()
    dq.source_csv_roundtrip(spark, SF).collect()
    root = dq._SCRATCH_ROOT
    assert os.path.dirname(root) == tempfile.gettempdir()
    names = sorted(os.listdir(root))
    assert len(names) == 2, names
    assert names[0].startswith("fs_registry_"), names
    assert names[1].startswith("src_csv_"), names
    new = set(os.listdir(tempfile.gettempdir())) - before
    assert not [n for n in new if n.startswith(("fs_", "src_"))], new
    dq._remove_scratch_root()
    assert not os.path.exists(root)


def test_q6_all_filters_pushed_and_pruned(spark):
    """TPC-H Q6 is THE pushdown query: ship-date range, discount band,
    and quantity cap must all reach the parquet reader (row-group
    pruning via footer min/max does the heavy lifting at 100 TB), and
    the scan must read only the four columns the query touches."""
    plan = formatted_plan(dq.tpch_q6_forecast_revenue(spark, SF))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "PushedFilters: []" not in pushed[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed[0], (col, pushed[0])
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    # l_tax / l_orderkey / flags are untouched — must not be scanned
    assert read and all(
        c not in ln for ln in read for c in ("l_tax", "l_returnflag")
    )


def test_q4_exists_lowers_to_left_semi(spark):
    """The EXISTS subquery must plan as LEFT SEMI (per-key
    short-circuit, lineitem never widens the output), not as an inner
    join + dedup."""
    plan = formatted_plan(dq.tpch_q4_order_priority(spark, SF))
    assert "LeftSemi" in plan
    assert "Distinct" not in plan


def test_bucketed_join_is_shuffle_free_as_sort_merge(spark, tmp_path):
    """The bucketing certificate must hold for a true SortMergeJoin,
    not be masked by a small-SF broadcast: with broadcast disabled
    entirely, the bucketed⋈bucketed join must still plan with no
    shuffle exchange, and a plain parquet read of the SAME files must
    reintroduce the exchange (metadata, not data, carries bucketing)."""
    from pyspark.sql import functions as F

    from blackroad_feature_store_spark.sources.bucketed import (
        is_shuffle_free_join,
        read_bucketed,
        write_bucketed,
    )
    from blackroad_feature_store_spark.sources.testdata import load

    sf = SF
    orders = load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(
        orders, "t_bj_orders", str(tmp_path / "o"), ["o_orderkey"], 4
    )
    write_bucketed(
        li, "t_bj_lineitem", str(tmp_path / "l"), ["l_orderkey"], 4
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bo = read_bucketed(spark, "t_bj_orders")
        bl = read_bucketed(spark, "t_bj_lineitem")
        j = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert is_shuffle_free_join(j)
        assert "Bucketed: true" in plan
        # same files, no catalog metadata -> the shuffle comes back
        po = spark.read.parquet(str(tmp_path / "o"))
        pl = spark.read.parquet(str(tmp_path / "l"))
        pj = po.join(pl, po.o_orderkey == pl.l_orderkey)
        assert not is_shuffle_free_join(pj)
        # correctness unaffected by layout
        assert j.count() == pj.count()
        # bucket pruning: an equality filter on the bucket key reads
        # one bucket, not four (autoBucketedScan downgrades a lone
        # filtered scan to a plain one, hiding the pruning — pin it
        # off for the check)
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        try:
            one = bo.where(F.col("o_orderkey") == 7)
            p1 = one._jdf.queryExecution().executedPlan().toString()
            assert "SelectedBucketsCount: 1 out of 4" in p1
        finally:
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "true",
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_bj_orders")
        spark.sql("DROP TABLE IF EXISTS t_bj_lineitem")


def test_dynamic_partition_pruning_prunes_fact_partitions(spark, tmp_path):
    """DPP: a fact table partitioned on the join key must only read
    the partitions the filtered dim side selects — at 100 TB this is
    the difference between scanning one day and scanning the decade.
    Pin: the fact scan carries a dynamicpruning subquery filter and
    the executed join touches 1 of 5 partition directories."""
    from blackroad_feature_store_spark.sources.testdata import load

    ev = load(spark, SF, "events")
    fact_dir = str(tmp_path / "events_parted")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    # DPP requires a real (file-based) dim side with a SELECTIVE
    # filter — that's what the pruning subquery is derived from.
    dim_dir = str(tmp_path / "dim")
    spark.createDataFrame(
        [("purchase", 1.5), ("view", 0.5), ("click", 1.0)],
        "event_type string, weight double",
    ).write.mode("overwrite").parquet(dim_dir)
    dim = spark.read.parquet(dim_dir).where(F.col("weight") > 1.2)
    j = fact.join(dim, "event_type").groupBy("event_type").agg(
        F.sum("value").alias("v"), F.sum(F.lit(1) * F.col("weight")).alias("w")
    )
    optimized = j._jdf.queryExecution().optimizedPlan().toString()
    physical = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in (optimized + physical).lower(), physical
    # And it executes correctly against the unpartitioned original.
    got = {r["event_type"]: r["v"] for r in j.collect()}
    want = {
        r["event_type"]: r["v"]
        for r in ev.where("event_type = 'purchase'")
        .groupBy("event_type")
        .agg(F.sum("value").alias("v"))
        .collect()
    }
    assert got.keys() == want.keys()
    for k in got:
        assert abs(got[k] - want[k]) < 1e-6


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join: one hot key must be split into multiple tasks at
    runtime (plan shows 'skew=true') instead of one straggler task
    dragging the stage — the runtime insurance the engine relies on
    for hot-key joins at scale. Thresholds are lowered so the 50k-row
    hot key trips the detector on test data; restored after."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # pad must be incompressible (md5), or the hot partition's
        # shuffle bytes lz4-compress below the skew threshold
        left = spark.range(60_000).selectExpr(
            "CASE WHEN id < 50000 THEN 0 ELSE id % 200 END AS k",
            "md5(CAST(id AS STRING)) AS pad",
        )
        right = spark.range(200).selectExpr("id AS k", "id * 2 AS w")
        j = left.join(right, "k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("pad")).alias("pad_bytes"),  # keeps pad alive
        )
        n = j.collect()[0]["n"]
        assert n == 60_000  # every left row matches exactly one right key
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_exactsubstr_removal_untouched_docs_never_reshuffle(spark):
    # The r12 rebuild posexploded EVERY token of EVERY document and
    # reassembled via collect_list + array_sort — a full-corpus
    # shuffle even when <10% of documents contain duplicated spans.
    # The rewrite aggregates dropped positions into ONE sorted array
    # per TOUCHED document, LEFT-joins that small side to the token
    # frame, and rebuilds in-row with a higher-order filter: an
    # untouched document is a narrow concat_ws projection that never
    # enters an exchange.
    df = dq.pipeline_exact_substr_removal(spark, SF)
    plan = formatted_plan(df)
    assert "collect_list" not in plan  # no reassembly aggregate
    # the only generators left are the hash-window posexplode
    # (posexplode(transform(sequence(...xxhash64...)))) and the
    # keeper/drop position explodes (explode(sequence(start, end)))
    # — all bounded by duplicated windows. A bare posexplode of the
    # token array itself means the corpus-wide token explode is back.
    gen_args = [
        ln
        for ln in plan.splitlines()
        if "Arguments:" in ln and "explode(" in ln
    ]
    assert gen_args, plan
    for ln in gen_args:
        assert (
            "explode(sequence(" in ln
            or "posexplode(transform(sequence(" in ln
        ), ln
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final_section = final.partition("== Initial Plan ==")[0]
    # AQE broadcasts the per-touched-doc drops side: the corpus side
    # of the LeftOuter rebuild join crosses no exchange
    assert any(
        "BroadcastHashJoin" in ln and "LeftOuter" in ln
        for ln in final_section.splitlines()
    ), final_section

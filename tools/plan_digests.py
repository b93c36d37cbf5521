#!/usr/bin/env python3
"""Catalog-wide physical-plan fingerprints (VERDICT r9 item 3).

For every query in ``__spark_entry__.queries()`` this captures the
FORMATTED physical explain of the constructed DataFrame, normalizes
away everything that legitimately varies between runs (expression
ids, plan ids, temp paths, object addresses, file statistics), and
writes ``PLANDIGESTS.json``: one stable sha256 digest plus a compact
operator list per query.

Why: round 9's bench drift on four UNTOUCHED queries cost a forensic
re-measurement session just to establish "the plan did not change —
the machine did". With a committed digest per query, "plan changed
vs machine changed" is a one-line ``git diff PLANDIGESTS.json``
check, and the sampled regression test (tests/test_plan_digests.py)
fails a round that changes a watched plan without updating the file.

    python tools/plan_digests.py [--sf /root/testdata/sf0.1] [query ...]

Construction-only for most queries; catalog queries that do eager
work while building (streaming drains, store round-trips) run that
work once — the digest then fingerprints the final returned plan,
which is the part bench timings depend on reproducibly.

Normalization contract (applied line-by-line to the formatted
explain; also used by the test — keep in sync with _normalize):

* ``#123`` expression ids, ``plan_id=``/``[id=…]`` tags → stripped
* ``0x7f…`` object addresses (pandas-UDF closures) → stripped
* absolute paths under /tmp, /root/testdata, spark-warehouse and any
  ``file:`` URL → ``<PATH>`` (catalog scratch sits under /tmp)
* file-listing facts that track data, not plan shape — Statistics,
  sizes, "N paths", row counts — → stripped
* UUID-shaped tokens (checkpoint/query ids) → ``<UUID>``
* session-global RDD ids in localCheckpoint scans (``…RDD[16] at
  localCheckpoint``) → stripped
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

_SUBS = [
    (re.compile(r"#\d+L?"), ""),
    # higher-order-function lambda variables carry a SESSION-GLOBAL
    # counter (lambda x_45) — not an exprId — so they depend on what
    # ran earlier in the session; strip the counter, keep the name
    (re.compile(r"\b(lambda [A-Za-z]+)_\d+"), r"\1"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    # uuid()'s random seed is baked into the expression rendering —
    # inherently per-session, never a plan fact (VERDICT r15 ask #6:
    # this alone kept core_uuid_shape out of the watched set)
    (re.compile(r"uuid\(Some\(-?\d+\)\)"), "uuid(Some(<SEED>))"),
    # localCheckpoint scans print the session-global RDD id AND the
    # reflection call site, whose rendering depends on JIT state
    # (NativeMethodAccessorImpl.java:0 vs <unknown>:0) — neither is a
    # plan fact
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\bat (\S+):\d+"), "at <SITE>"),
    (re.compile(r"\[id=#?\d+\]"), ""),
    (re.compile(r"0x[0-9a-fA-F]+"), "0x"),
    (re.compile(
        r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
        r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"
    ), "<UUID>"),
    (re.compile(r"(file:)?/(tmp|root/testdata)[^\s,\]\)]*"), "<PATH>"),
    (re.compile(r"(file:)?\S*spark-warehouse[^\s,\]\)]*"), "<PATH>"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics()"),
    (re.compile(r"\b\d+(\.\d+)?\s*(B|KiB|MiB|GiB|TiB)\b"), "<SZ>"),
    (re.compile(r"\b\d+ paths\b"), "<N> paths"),
    (re.compile(r"Location: \S+"), "Location: <PATH>"),
]

_OP_LINE = re.compile(r"^\(\d+\)\s+(.*)$")

# Per-query targeted normalizations (VERDICT r15 ask #6): these plans
# embed DATA-DERIVED literals — correct plan facts that track the
# dataset, not the plan shape — so their digests moved on every data
# realization and could not join the CI-watched set. Each entry
# canonicalizes EXACTLY the derived literal (structure, operators and
# every authored constant stay in the digest), so a real plan change
# still moves the digest:
#
# * pipeline_token_budget_select — the token budget in the join
#   condition is sum(corpus tokens) * fraction, recomputed per
#   dataset; the `(__off + __run) <= N` shape is the plan fact.
# * text_bm25_search — the BM25 average-document-length divisor is a
#   corpus statistic folded into the scoring expression; k1=1.2 /
#   b=0.75 and the expression tree remain fingerprinted.
#
# NOT normalized (documented per VERDICT r15 ask #6 — canonicalizing
# these would hide exactly the regressions the watch exists to catch):
#
# * stats_hll_distinct — its realization sensitivity is a
#   BroadcastHashJoin vs SortMergeJoin flip on size estimates; a
#   join-strategy flip is a REAL physical-plan change (the r9 drift
#   class), so it must keep moving the digest.
# * stream_exec_ivf_maintained — the returned plan's lineage encodes
#   how many micro-batches the drain executed; normalizing batch
#   count would mask a drain that silently stopped processing all
#   its batches.
QUERY_SUBS: dict[str, list] = {
    "pipeline_token_budget_select": [
        (
            re.compile(r"\(__off \+ __run\) <= \d+"),
            "(__off + __run) <= <BUDGET>",
        ),
    ],
    "text_bm25_search": [
        (
            re.compile(r"\* 0\.75\) / \d+(\.\d+)?\)"),
            "* 0.75) / <AVGDL>)",
        ),
    ],
}


def _normalize(explain: str) -> str:
    out_lines = []
    for line in explain.splitlines():
        for rx, rep in _SUBS:
            line = rx.sub(rep, line)
        out_lines.append(line.rstrip())
    return "\n".join(out_lines)


def _explain_formatted(df) -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"  # noqa: SLF001
    )


def plan_fingerprint(df, name: str | None = None) -> dict:
    """(digest, ops) for one DataFrame: sha256 of the normalized
    formatted explain, plus the ordered operator list — the diffable
    summary a human reads when the digest moves. ``name`` applies
    that query's targeted QUERY_SUBS normalizations (data-derived
    literals; documented above)."""
    norm = _normalize(_explain_formatted(df))
    for rx, rep in QUERY_SUBS.get(name or "", []):
        norm = rx.sub(rep, norm)
    ops = []
    for line in norm.splitlines():
        m = _OP_LINE.match(line.strip())
        if m:
            # operator name only — arguments are in the digest
            ops.append(m.group(1).split("[")[0].strip())
    return {
        "digest": hashlib.sha256(norm.encode()).hexdigest()[:16],
        "ops": ops,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    from blackroad_feature_store_spark.sources.testdata import sf_dir

    ap.add_argument("--sf", default=sf_dir("sf0.1"))
    ap.add_argument(
        "--out",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "PLANDIGESTS.json",
        ),
    )
    ap.add_argument("names", nargs="*", help="subset of query names")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from blackroad_feature_store_spark.session import get_spark

    spark = get_spark(app_name="plan-digests")
    queries = entrymod.queries()
    names = args.names or sorted(queries)

    existing: dict = {}
    if args.names and os.path.exists(args.out):
        with open(args.out) as f:
            existing = json.load(f)

    results = dict(existing)
    for name in names:
        try:
            df = queries[name](spark, args.sf)
            results[name] = plan_fingerprint(df, name)
        except Exception as exc:  # digest tool must cover the catalog
            results[name] = {"digest": None, "error": str(exc)[:200]}
        print(f"{name}: {results[name].get('digest')}", file=sys.stderr)

    with open(args.out, "w") as f:
        json.dump(dict(sorted(results.items())), f, indent=1)
        f.write("\n")
    n_err = sum(1 for v in results.values() if not v.get("digest"))
    print(f"wrote {len(results)} digests ({n_err} errors) -> {args.out}")


if __name__ == "__main__":
    main()

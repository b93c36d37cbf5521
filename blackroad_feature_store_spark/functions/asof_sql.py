"""``ASOF JOIN`` SQL syntax — the optional parser extension from
SURVEY.md §4.2/§7.2.

Spark has no ASOF JOIN in its SQL dialect (the library builder is
``operators/asof.py::as_of_join``). This module adds the SQL spelling
as a Python-level front-end: :func:`asof_sql` recognizes one
``ASOF [LEFT] JOIN`` clause in an otherwise-ordinary SELECT, lowers it
to a join-then-window-top-1 plan, and hands
the rest of the statement to ``spark.sql`` untouched. A true Catalyst
parser extension would need compiled Scala; the survey explicitly
scoped this as optional — the Python front-end covers the user-visible
syntax (DuckDB/Snowflake shape) with zero JVM surface.

Grammar (constrained, documented):

.. code-block:: sql

    SELECT <anything>
    FROM <left_view> [AS] <l>
    ASOF [LEFT] JOIN <right_view> [AS] <r>
      ON l.k1 = r.k1 [AND l.k2 = r.k2 ...] AND l.ts >= r.ts
    [WHERE / GROUP BY / ORDER BY / LIMIT ...]

* both join inputs are table/view names (register temp views first);
* exactly ONE inequality (``>=``/``>``/``<=``/``<`` between the two
  aliases, either side first) — it selects the as-of instant;
* every other ON condition is an alias-qualified equality;
* column references in the rest of the statement must be
  alias-qualified (``l.x``, ``r.y``) — standard practice for a
  two-table join.

Match semantics: per left row, the single right row with the greatest
right-timestamp satisfying the inequality (ties broken by the
remaining right columns, descending, for determinism). ``ASOF JOIN``
is inner (unmatched left rows drop); ``ASOF LEFT JOIN`` keeps them
with NULL right columns — the DuckDB contract, which the catalog pins
query-for-query against DuckDB's native ASOF JOIN.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_ASOF_RE = re.compile(
    r"\bFROM\s+(?P<lt>\w+)\s+(?:AS\s+)?(?P<la>\w+)\s+"
    r"ASOF\s+(?P<how>LEFT\s+|INNER\s+)?JOIN\s+"
    r"(?P<rt>\w+)\s+(?:AS\s+)?(?P<ra>\w+)\s+"
    r"ON\s+(?P<on>.*?)"
    r"(?P<rest>\bWHERE\b.*|\bGROUP\s+BY\b.*|\bORDER\s+BY\b.*"
    r"|\bLIMIT\b.*|\Z)",
    re.I | re.S,
)
_EQ_RE = re.compile(r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$")
_INEQ_RE = re.compile(r"^\s*(\w+)\.(\w+)\s*(>=|<=|>|<)\s*(\w+)\.(\w+)\s*$")


def _mask_literals(q: str) -> str:
    """Same-length copy of ``q`` with the CONTENTS of single-quoted SQL
    string literals replaced by ``x`` (quotes and '' escapes kept, so
    positions line up). The parser regexes run on the masked text so an
    ``ASOF JOIN`` or ``l.x``-shaped substring inside a literal can
    neither trigger the front-end nor be rewritten."""
    out = []
    i, n = 0, len(q)
    in_str = False
    while i < n:
        ch = q[i]
        if in_str and ch == "'" and i + 1 < n and q[i + 1] == "'":
            out.append("xx")  # '' escape stays inside the literal
            i += 2
            continue
        if ch == "'":
            in_str = not in_str
            out.append(ch)
        else:
            out.append("x" if in_str else ch)
        i += 1
    return "".join(out)


def _rewrite_alias_quals(text: str, alias: str) -> str:
    """Rewrite ``alias.col`` → ``alias__col`` outside string literals,
    case-insensitively (Spark resolves identifiers case-insensitively,
    so ``FROM t AS P ... SELECT p.x`` is legal SQL and both spellings
    must rewrite). The replacement uses the FROM-clause alias casing —
    the prefixed columns were created with it."""
    masked = _mask_literals(text)
    out, last = [], 0
    for mm in re.finditer(rf"\b{re.escape(alias)}\.(\w+)", masked, re.I):
        out.append(text[last : mm.start()])
        out.append(f"{alias}__{mm.group(1)}")
        last = mm.end()
    out.append(text[last:])
    return "".join(out)


def asof_sql(spark: SparkSession, query: str) -> DataFrame:
    """Run a SELECT containing one ``ASOF [LEFT] JOIN`` clause."""
    masked = _mask_literals(query)
    m = _ASOF_RE.search(masked)
    if not m:
        asof_kw = re.compile(r"\bASOF\s+(LEFT\s+|INNER\s+)?JOIN\b", re.I)
        if asof_kw.search(query) and not asof_kw.search(masked):
            raise ValueError(
                "ASOF JOIN appears only inside a string literal — this "
                "is not an ASOF query; run it through spark.sql directly"
            )
        if re.search(r"\bFROM\s*\(", masked, re.I) and asof_kw.search(masked):
            raise ValueError(
                "subqueries in FROM are not supported by the ASOF JOIN "
                "front-end; register the subquery as a temp view "
                "(df.createOrReplaceTempView) and reference it by name"
            )
        raise ValueError(
            "no 'FROM <t> <a> ASOF [LEFT] JOIN <t> <a> ON ...' clause "
            "found (both inputs must be named tables/views with aliases)"
        )
    la, ra = m.group("la"), m.group("ra")
    if la.lower() == ra.lower():
        # case-insensitive: aliases T and t are the same identifier
        raise ValueError(f"join aliases must differ (both {la!r})")
    how = "left" if (m.group("how") or "").strip().upper() == "LEFT" else "inner"

    eqs: list[tuple[str, str]] = []  # (left col, right col)
    ineq: tuple[str, str, bool] | None = None  # (lts, rts, strict)
    # Alias matching is case-insensitive, like Spark's identifier
    # resolution (FROM t AS P ... ON p.x = ... is legal SQL).
    lal, ral = la.lower(), ra.lower()
    on_clause = query[m.start("on") : m.end("on")]
    for cond in re.split(r"\bAND\b", on_clause, flags=re.I):
        em_ = _EQ_RE.match(cond)
        if em_:
            a1, c1, a2, c2 = em_.groups()
            if {a1.lower(), a2.lower()} != {lal, ral}:
                raise ValueError(f"equality must relate {la} and {ra}: {cond!r}")
            eqs.append((c1, c2) if a1.lower() == lal else (c2, c1))
            continue
        im = _INEQ_RE.match(cond)
        if im:
            if ineq is not None:
                raise ValueError("exactly one inequality condition allowed")
            a1, c1, op, a2, c2 = im.groups()
            if {a1.lower(), a2.lower()} != {lal, ral}:
                raise ValueError(
                    f"inequality must relate {la} and {ra}: {cond!r}"
                )
            # Normalize to: right_ts (<|<=) left_ts — "latest right at
            # or before the left instant".
            if a1.lower() == lal:  # l.ts OP r.ts
                if op in (">=", ">"):
                    ineq = (c1, c2, op == ">")
                else:
                    raise ValueError(
                        f"unsupported as-of direction {cond!r}: the left "
                        "side must look back (l.ts >= r.ts)"
                    )
            else:  # r.ts OP l.ts
                if op in ("<=", "<"):
                    ineq = (c2, c1, op == "<")
                else:
                    raise ValueError(
                        f"unsupported as-of direction {cond!r}: the right "
                        "side must precede (r.ts <= l.ts)"
                    )
            continue
        raise ValueError(f"unparseable ON condition: {cond!r}")
    if ineq is None:
        raise ValueError("ASOF JOIN needs one inequality (the as-of bound)")
    lts, rts, strict = ineq

    left = spark.table(m.group("lt"))
    right = spark.table(m.group("rt"))
    # Alias-prefix every column (l.x -> l__x) so the two sides can
    # never collide and the outer statement's qualified references
    # rewrite mechanically.
    l2 = left.select(
        *[F.col(c).alias(f"{la}__{c}") for c in left.columns]
    ).withColumn("__asof_rid", F.monotonically_increasing_id())
    r2 = right.select(*[F.col(c).alias(f"{ra}__{c}") for c in right.columns])

    conds = [l2[f"{la}__{lc}"] == r2[f"{ra}__{rc}"] for lc, rc in eqs]
    bound = (
        r2[f"{ra}__{rts}"] < l2[f"{la}__{lts}"]
        if strict
        else r2[f"{ra}__{rts}"] <= l2[f"{la}__{lts}"]
    )
    joined = l2.join(r2, on=conds + [bound], how=how)

    # Top-1 per LEFT ROW: greatest right ts, remaining ORDERABLE right
    # columns as deterministic tiebreakers (maps and other unorderable
    # types are skipped — a records table's feature map must not break
    # the sort). Spark plans it as WindowGroupLimit, so the per-key
    # top-1 happens map-side before the exchange.
    from pyspark.sql import types as T

    orderable = (
        T.NumericType, T.StringType, T.TimestampType, T.TimestampNTZType,
        T.DateType, T.BooleanType, T.BinaryType,
    )
    order = [F.col(f"{ra}__{rts}").desc_nulls_last()] + [
        F.col(f.name).desc_nulls_last()
        for f in r2.schema.fields
        if f.name != f"{ra}__{rts}" and isinstance(f.dataType, orderable)
    ]
    top = (
        joined.withColumn(
            "__asof_rn",
            F.row_number().over(
                Window.partitionBy("__asof_rid").orderBy(*order)
            ),
        )
        .where(F.col("__asof_rn") == 1)
        .drop("__asof_rn", "__asof_rid")
    )

    view = f"__asof_{uuid.uuid4().hex[:12]}"
    top.createOrReplaceTempView(view)
    try:
        outer = (
            query[: m.start()] + f"FROM {view}\n" + query[m.start("rest") :]
        )
        outer = _rewrite_alias_quals(outer, la)
        outer = _rewrite_alias_quals(outer, ra)
        df = spark.sql(outer)
    finally:
        # Analysis has resolved the view into the plan; dropping it
        # keeps repeated asof_sql calls (CLI sql verb, bench reps,
        # long sessions) from leaking session-catalog entries.
        spark.catalog.dropTempView(view)
    return df

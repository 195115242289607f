"""Seeded randomized differential harness: Spark SQL vs DuckDB.

The curated registry (169 queries, scripts/verify_oracle.py) is
builder-chosen — it can only catch bugs the builder thought to write a
query for. This harness generates RANDOM query shapes over the fixture
schemas (filter/project, group-agg, equi-join+agg, window, set ops,
IN/EXISTS/scalar subqueries, order+limit) and runs the SAME SQL text
through Spark SQL and DuckDB, diffing row counts, column names, and
exact values. Any mismatch is a semantic hole; pinned seeds make every
run reproducible and any failure a one-line regression case.

Generation discipline (so exact compares are meaningful — the same
bit-determinism rules as queries.py's header):
- double aggregation goes through DECIMAL(38,6) (exact, order-free)
  then CAST AS DOUBLE; scalar double arithmetic is avoided in
  projections except IEEE-exact +/-/* comparisons in predicates.
- counts/rank/row_number CAST AS BIGINT.
- window ORDER BY is always a TOTAL order (unique key last) for
  position-dependent functions (row_number/lag/lead/frame sums);
  rank/dense_rank may order by non-unique columns (tie output is
  order-insensitive).
- timestamp columns are EXCLUDED (their physical parquet encoding
  varies between fixture generations — FIXTURES.md; the curated suite
  covers them through the epoch-dispatch helpers).
- string min/max only on ASCII categorical/name columns (binary
  collation identical in both engines).

Usage:
    python scripts/fuzz_oracle.py [sf_dir] [n_queries] [seed]
Defaults: /root/testdata/sf0.001, 240, 7001.
Exit 0 = all match; 1 = mismatches (specs printed + saved).
"""

from __future__ import annotations

import json
import math
import random
import sys

sys.path.insert(0, ".")

import duckdb
import pandas as pd

# ---------------------------------------------------------------------------
# Schema metadata (FIXTURES.md §A; timestamp columns deliberately absent)
# ---------------------------------------------------------------------------

# kind: key (unique int id), int, dbl, cat (low-card ASCII string),
#       name (high-card ASCII string, prefix-structured)
COLS: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "cat"},
    "nation": {"n_nationkey": "int", "n_name": "cat", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "key",
        "c_name": "name",
        "c_nationkey": "int",
        "c_acctbal": "dbl",
        "c_mktsegment": "cat",
    },
    "supplier": {
        "s_suppkey": "key",
        "s_name": "name",
        "s_nationkey": "int",
        "s_acctbal": "dbl",
    },
    "part": {
        "p_partkey": "key",
        "p_name": "name",
        "p_brand": "cat",
        "p_type": "cat",
        "p_size": "int",
        "p_retailprice": "dbl",
    },
    "orders": {
        "o_orderkey": "key",
        "o_custkey": "int",
        "o_orderstatus": "cat",
        "o_totalprice": "dbl",
        "o_orderpriority": "cat",
    },
    "lineitem": {
        "l_orderkey": "int",
        "l_partkey": "int",
        "l_suppkey": "int",
        "l_linenumber": "int",
        "l_quantity": "dbl",
        "l_extendedprice": "dbl",
        "l_discount": "dbl",
        "l_tax": "dbl",
        "l_returnflag": "cat",
        "l_linestatus": "cat",
    },
    "documents": {
        "doc_id": "key",
        "lang": "cat",
        "source": "cat",
        "n_chars": "int",
    },
    "events": {
        "event_id": "key",
        "user_id": "int",
        "event_type": "cat",
        "value": "dbl",
    },
}

#: Total-order key per table (unique; tuple where one column isn't).
UNIQUE: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    # NOT (l_orderkey, l_linenumber): the synthetic fixture, unlike real
    # TPC-H, repeats that pair (6000 rows → 4599 distinct at sf0.001).
    # The first harness run with the 2-col "key" produced a
    # nondeterministic lead() and flagged it — the verified-unique
    # 6-tuple below restores a total order for position-dependent
    # window shapes.
    "lineitem": (
        "l_orderkey", "l_linenumber", "l_partkey",
        "l_suppkey", "l_quantity", "l_extendedprice",
    ),
    "documents": ("doc_id",),
    "events": ("event_id",),
}

#: Equi-join edges (left, right, left_key, right_key) — the fixture's
#: natural FKs, so joins produce real (non-empty, non-exploding) work.
JOINS = [
    ("customer", "nation", "c_nationkey", "n_nationkey"),
    ("supplier", "nation", "s_nationkey", "n_nationkey"),
    ("nation", "region", "n_regionkey", "r_regionkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
    ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
]

# Safety cap: a shape producing more rows than this is treated as a
# generator bug (a runaway join), not compared. 2M clears every
# whole-table projection at sf0.1 (lineitem = 600k rows) while still
# catching true cross-join explosions.
MAX_ROWS = 2_000_000


def _q(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


# ---------------------------------------------------------------------------
# Value pools (sampled deterministically from the data via DuckDB)
# ---------------------------------------------------------------------------


def build_pools(con) -> dict:
    pools: dict = {}
    for t, cols in COLS.items():
        for c, kind in cols.items():
            if kind in ("cat", "name"):
                vals = [
                    r[0]
                    for r in con.execute(
                        f"SELECT DISTINCT {c} FROM {t} WHERE {c} IS NOT NULL "
                        f"ORDER BY {c} LIMIT 40"
                    ).fetchall()
                ]
                pools[(t, c)] = vals
            else:
                lo, hi = con.execute(
                    f"SELECT min({c}), max({c}) FROM {t}"
                ).fetchone()
                pools[(t, c)] = (lo, hi)
    return pools


# ---------------------------------------------------------------------------
# Expression generators
# ---------------------------------------------------------------------------


def _cols_of(t, kinds, qual=""):
    pre = f"{qual}." if qual else ""
    return [(pre + c, c, k) for c, k in COLS[t].items() if k in kinds]


def gen_pred(rng: random.Random, t: str, pools, qual: str = "") -> str:
    """1-3 conjuncts/disjuncts over table t's columns."""
    terms = []
    for _ in range(rng.randint(1, 3)):
        ref, c, kind = rng.choice(_cols_of(t, ("key", "int", "dbl", "cat", "name"), qual))
        if kind in ("key", "int"):
            lo, hi = pools[(t, c)]
            lo, hi = int(lo), int(hi)
            pick = rng.random()
            if pick < 0.35:
                op = rng.choice(["<", "<=", ">", ">=", "=", "<>"])
                terms.append(f"{ref} {op} {rng.randint(lo, hi)}")
            elif pick < 0.55 and hi >= 0:
                k = rng.randint(2, 13)
                terms.append(f"{ref} % {k} = {rng.randint(0, k - 1)}")
            elif pick < 0.8:
                a = rng.randint(lo, hi)
                b = rng.randint(lo, hi)
                a, b = min(a, b), max(a, b)
                terms.append(f"{ref} BETWEEN {a} AND {b}")
            else:
                vals = sorted(rng.sample(range(lo, hi + 1), min(5, hi - lo + 1)))
                terms.append(f"{ref} IN ({', '.join(map(str, vals))})")
        elif kind == "dbl":
            lo, hi = pools[(t, c)]
            lit = round(rng.uniform(float(lo), float(hi)), 2)
            op = rng.choice(["<", "<=", ">", ">="])
            terms.append(f"{ref} {op} {lit}")
        elif kind == "cat":
            vals = pools[(t, c)]
            if not vals:
                continue
            pick = rng.random()
            if pick < 0.5:
                terms.append(f"{ref} = {_q(rng.choice(vals))}")
            elif pick < 0.8:
                sel = rng.sample(vals, min(rng.randint(1, 3), len(vals)))
                terms.append(f"{ref} IN ({', '.join(_q(v) for v in sel)})")
            else:
                terms.append(f"{ref} <> {_q(rng.choice(vals))}")
        else:  # name
            vals = pools[(t, c)]
            if not vals:
                continue
            v = rng.choice(vals)
            n = rng.randint(3, max(3, min(10, len(v))))
            terms.append(f"{ref} LIKE {_q(v[:n] + '%')}")
    if not terms:
        return "1 = 1"
    glue = " AND " if rng.random() < 0.7 else " OR "
    return "(" + glue.join(terms) + ")"


def gen_agg(rng: random.Random, t: str, alias: str, qual: str = "") -> str:
    """One deterministic aggregate expression aliased to `alias`."""
    choices = []
    ints = _cols_of(t, ("key", "int"), qual)
    dbls = _cols_of(t, ("dbl",), qual)
    cats = _cols_of(t, ("cat", "name"), qual)
    choices.append("CAST(count(*) AS BIGINT)")
    if ints:
        ref, _, _ = rng.choice(ints)
        choices += [
            f"CAST(count({ref}) AS BIGINT)",
            f"CAST(count(DISTINCT {ref}) AS BIGINT)",
            f"CAST(sum({ref}) AS BIGINT)",
            f"CAST(min({ref}) AS BIGINT)",
            f"CAST(max({ref}) AS BIGINT)",
        ]
    if dbls:
        ref, _, _ = rng.choice(dbls)
        choices += [
            f"CAST(sum(CAST({ref} AS DECIMAL(38,6))) AS DOUBLE)",
            f"min({ref})",
            f"max({ref})",
        ]
    if cats:
        ref, _, _ = rng.choice(cats)
        choices += [
            f"min({ref})",
            f"max({ref})",
            f"CAST(count(DISTINCT {ref}) AS BIGINT)",
        ]
    return f"{rng.choice(choices)} AS {alias}"


def gen_proj(rng: random.Random, t: str, alias: str, qual: str = "") -> str:
    """One deterministic scalar projection aliased to `alias`."""
    ref, c, kind = rng.choice(
        _cols_of(t, ("key", "int", "dbl", "cat", "name"), qual)
    )
    if kind in ("key", "int"):
        pick = rng.random()
        if pick < 0.4:
            expr = ref
        elif pick < 0.6:
            expr = f"({ref} + {rng.randint(1, 100)})"
        elif pick < 0.8:
            expr = f"({ref} % {rng.randint(2, 17)})"
        else:
            return (
                f"(CASE WHEN {ref} % 2 = 0 THEN 'even' ELSE 'odd' END) "
                f"AS {alias}"
            )
        return f"CAST({expr} AS BIGINT) AS {alias}"
    if kind == "dbl":
        return f"{ref} AS {alias}"
    pick = rng.random()
    if pick < 0.4:
        expr = ref
    elif pick < 0.6:
        expr = f"upper({ref})"
    elif pick < 0.75:
        expr = f"substr({ref}, 1, {rng.randint(1, 6)})"
    elif pick < 0.9:
        expr = f"CAST(length({ref}) AS BIGINT)"
    else:
        expr = f"coalesce(nullif({ref}, {ref}), 'same')"
    return f"{expr} AS {alias}"


# ---------------------------------------------------------------------------
# Query-shape generators — each returns (shape_name, sql)
# ---------------------------------------------------------------------------


def shape_filter_project(rng, pools):
    t = rng.choice(list(COLS))
    pred = gen_pred(rng, t, pools)
    n = rng.randint(1, 4)
    sel = ", ".join(gen_proj(rng, t, f"c{i}") for i in range(n))
    key = ", ".join(UNIQUE[t])
    dedup = "DISTINCT " if rng.random() < 0.25 else ""
    if not dedup:  # keep a stable id so duplicates in proj are fine
        sel = f"{sel}, {key.split(', ')[0]} AS rid"
    return "filter_project", f"SELECT {dedup}{sel} FROM {t} WHERE {pred}"


def shape_group_agg(rng, pools):
    t = rng.choice(list(COLS))
    groupable = _cols_of(t, ("int", "cat"))
    if not groupable:
        groupable = _cols_of(t, ("key",))
    keys = rng.sample(groupable, min(rng.randint(1, 2), len(groupable)))
    kexprs = []
    for i, (ref, c, kind) in enumerate(keys):
        if kind == "int" and rng.random() < 0.3:
            kexprs.append((f"({ref} % {rng.randint(2, 7)})", f"g{i}"))
        elif kind == "cat" and rng.random() < 0.3:
            kexprs.append((f"substr({ref}, 1, 3)", f"g{i}"))
        else:
            kexprs.append((ref, f"g{i}"))
    gsel = ", ".join(f"{e} AS {a}" for e, a in kexprs)
    gby = ", ".join(e for e, _ in kexprs)
    n = rng.randint(1, 3)
    aggs = ", ".join(gen_agg(rng, t, f"a{i}") for i in range(n))
    pred = gen_pred(rng, t, pools) if rng.random() < 0.7 else "1 = 1"
    having = (
        f" HAVING CAST(count(*) AS BIGINT) >= {rng.randint(1, 5)}"
        if rng.random() < 0.3
        else ""
    )
    # GROUP BY ALL (supported by both engines): every non-aggregate
    # select item becomes a group key — semantics must match the
    # explicit list exactly
    if rng.random() < 0.2:
        gby = "ALL"
    return (
        "group_agg",
        f"SELECT {gsel}, {aggs} FROM {t} WHERE {pred} GROUP BY {gby}{having}",
    )


def shape_join_agg(rng, pools):
    lt, rt, lk, rk = rng.choice(JOINS)
    jtype = rng.choice(["JOIN", "JOIN", "LEFT JOIN"])
    pl = gen_pred(rng, lt, pools, "a") if rng.random() < 0.6 else "1 = 1"
    # right-side predicate only for INNER (a LEFT JOIN + WHERE on the
    # right side silently becomes inner — generate what we mean)
    pr = (
        gen_pred(rng, rt, pools, "b")
        if (jtype == "JOIN" and rng.random() < 0.5)
        else "1 = 1"
    )
    if rng.random() < 0.5:
        # join → group agg on a key from either side
        side, qual = rng.choice([(lt, "a"), (rt, "b")])
        groupable = _cols_of(side, ("int", "cat"), qual)
        if not groupable:
            groupable = _cols_of(side, ("key",), qual)
        gref, _, _ = rng.choice(groupable)
        aggs = []
        for i in range(rng.randint(1, 2)):
            aside, aqual = rng.choice([(lt, "a"), (rt, "b")])
            aggs.append(gen_agg(rng, aside, f"a{i}", aqual))
        sql = (
            f"SELECT {gref} AS g0, {', '.join(aggs)} FROM {lt} a {jtype} {rt} b "
            f"ON a.{lk} = b.{rk} WHERE {pl} AND {pr} GROUP BY {gref}"
        )
    else:
        # join → projection with both-side columns, keyed by left unique
        sels = []
        for i in range(rng.randint(1, 3)):
            pside, pqual = rng.choice([(lt, "a"), (rt, "b")])
            sels.append(gen_proj(rng, pside, f"c{i}", pqual))
        key = ", ".join(f"a.{k} AS rid{j}" for j, k in enumerate(UNIQUE[lt]))
        sql = (
            f"SELECT {', '.join(sels)}, {key} FROM {lt} a {jtype} {rt} b "
            f"ON a.{lk} = b.{rk} WHERE {pl} AND {pr}"
        )
    return "join_agg", sql


def shape_window(rng, pools):
    t = rng.choice(["customer", "orders", "lineitem", "part", "events", "documents"])
    uniq = list(UNIQUE[t])
    parts = _cols_of(t, ("int", "cat"))
    pref, _, _ = rng.choice(parts)
    total_order = ", ".join(uniq)
    ints = _cols_of(t, ("key", "int"))
    iref, _, _ = rng.choice(ints)
    nonuniq = rng.choice(parts)[0]
    fn = rng.choice(["row_number", "rank", "dense_rank", "lag", "lead", "fsum", "pmin"])
    if fn == "row_number":
        w = f"CAST(row_number() OVER (PARTITION BY {pref} ORDER BY {total_order}) AS BIGINT)"
    elif fn == "rank":
        w = f"CAST(rank() OVER (PARTITION BY {pref} ORDER BY {nonuniq}) AS BIGINT)"
    elif fn == "dense_rank":
        w = f"CAST(dense_rank() OVER (PARTITION BY {pref} ORDER BY {nonuniq}) AS BIGINT)"
    elif fn == "lag":
        w = f"lag({iref}, 1) OVER (PARTITION BY {pref} ORDER BY {total_order})"
    elif fn == "lead":
        w = f"lead({iref}, 1) OVER (PARTITION BY {pref} ORDER BY {total_order})"
    elif fn == "fsum":
        w = (
            f"CAST(sum({iref}) OVER (PARTITION BY {pref} ORDER BY {total_order} "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        )
    else:
        w = f"min({iref}) OVER (PARTITION BY {pref})"
    pred = gen_pred(rng, t, pools) if rng.random() < 0.5 else "1 = 1"
    key = ", ".join(f"{k} AS rid{j}" for j, k in enumerate(uniq))
    return (
        "window",
        f"SELECT {key}, {w} AS w0 FROM {t} WHERE {pred}",
    )


def shape_setop(rng, pools):
    # custkey population from two different tables — same type both sides
    op = rng.choice(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])
    p1 = gen_pred(rng, "orders", pools)
    p2 = gen_pred(rng, "customer", pools)
    a = f"SELECT o_custkey AS c0 FROM orders WHERE {p1}"
    b = f"SELECT c_custkey AS c0 FROM customer WHERE {p2}"
    if op == "UNION ALL" :
        # multiset compare is fine (comparator sorts rows)
        pass
    return "setop", f"{a} {op} {b}"


def shape_subquery(rng, pools):
    pick = rng.random()
    if pick < 0.4:
        pred = gen_pred(rng, "nation", pools)
        outer = gen_pred(rng, "customer", pools)
        sql = (
            f"SELECT c_custkey AS c0, c_mktsegment AS c1 FROM customer "
            f"WHERE {outer} AND c_nationkey IN "
            f"(SELECT n_nationkey FROM nation WHERE {pred})"
        )
    elif pick < 0.7:
        inner = gen_pred(rng, "lineitem", pools, "l")
        neg = "NOT " if rng.random() < 0.4 else ""
        sql = (
            f"SELECT o.o_orderkey AS c0 FROM orders o WHERE {neg}EXISTS "
            f"(SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey "
            f"AND {inner})"
        )
    else:
        mm = rng.choice(["min", "max"])
        sql = (
            f"SELECT c_custkey AS c0, c_nationkey AS c1 FROM customer "
            f"WHERE c_acctbal > (SELECT {mm}(s_acctbal) FROM supplier)"
        )
    return "subquery", sql


def shape_order_limit(rng, pools):
    t = rng.choice(list(COLS))
    uniq = list(UNIQUE[t])
    pred = gen_pred(rng, t, pools) if rng.random() < 0.6 else "1 = 1"
    desc = " DESC" if rng.random() < 0.5 else ""
    order = ", ".join(f"{k}{desc}" for k in uniq)
    n = rng.randint(1, 25)
    cols = ", ".join(
        [f"{k} AS rid{j}" for j, k in enumerate(uniq)]
        + [gen_proj(rng, t, "c0")]
    )
    return (
        "order_limit",
        f"SELECT {cols} FROM {t} WHERE {pred} ORDER BY {order} LIMIT {n}",
    )


def shape_topk_per_group(rng, pools):
    """The top-k-per-group idiom: row_number in a subquery, filtered
    outside — the single most common analytic pattern."""
    t = rng.choice(["orders", "lineitem", "customer", "events", "part"])
    parts = _cols_of(t, ("int", "cat"))
    pref, _, _ = rng.choice(parts)
    total_order = ", ".join(UNIQUE[t])
    desc = " DESC" if rng.random() < 0.5 else ""
    order = ", ".join(f"{k}{desc}" for k in UNIQUE[t])
    k = rng.randint(1, 4)
    pred = gen_pred(rng, t, pools) if rng.random() < 0.5 else "1 = 1"
    key = ", ".join(f"rid{j}" for j in range(len(UNIQUE[t])))
    inner_key = ", ".join(
        f"{c} AS rid{j}" for j, c in enumerate(UNIQUE[t])
    )
    return (
        "topk_per_group",
        f"SELECT {key}, g0, CAST(rn AS BIGINT) AS rn FROM ("
        f"SELECT {inner_key}, {pref} AS g0, "
        f"row_number() OVER (PARTITION BY {pref} ORDER BY {order}) AS rn "
        f"FROM {t} WHERE {pred}) sub WHERE rn <= {k}",
    )


def shape_rollup(rng, pools):
    t = rng.choice(["lineitem", "orders", "customer", "documents"])
    groupable = _cols_of(t, ("int", "cat"))
    keys = rng.sample(groupable, min(2, len(groupable)))
    krefs = [ref for ref, _, _ in keys]
    op = rng.choice(["ROLLUP", "CUBE"])
    aggs = ", ".join(gen_agg(rng, t, f"a{i}") for i in range(rng.randint(1, 2)))
    pred = gen_pred(rng, t, pools) if rng.random() < 0.5 else "1 = 1"
    gsel = ", ".join(f"{r} AS g{i}" for i, r in enumerate(krefs))
    return (
        "rollup",
        f"SELECT {gsel}, {aggs} FROM {t} WHERE {pred} "
        f"GROUP BY {op} ({', '.join(krefs)})",
    )


def shape_cond_agg(rng, pools):
    """Conditional (pivot-style) aggregation: SUM(CASE WHEN …)."""
    t = rng.choice(list(COLS))
    groupable = _cols_of(t, ("int", "cat"))
    gref, _, _ = rng.choice(groupable)
    conds = [gen_pred(rng, t, pools) for _ in range(rng.randint(1, 3))]
    aggs = ", ".join(
        f"CAST(sum(CASE WHEN {c} THEN 1 ELSE 0 END) AS BIGINT) AS a{i}"
        for i, c in enumerate(conds)
    )
    return (
        "cond_agg",
        f"SELECT {gref} AS g0, {aggs} FROM {t} GROUP BY {gref}",
    )


def shape_three_join(rng, pools):
    """lineitem ⋈ orders ⋈ customer — the classic 3-table star path."""
    pred = gen_pred(rng, "lineitem", pools, "l")
    pc = gen_pred(rng, "customer", pools, "c") if rng.random() < 0.5 else "1 = 1"
    side = rng.choice(
        ["c.c_nationkey", "c.c_mktsegment", "o.o_orderstatus", "o.o_orderpriority"]
    )
    agg2 = (
        "CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)"
        if rng.random() < 0.5
        else "CAST(count(DISTINCT o.o_orderkey) AS BIGINT)"
    )
    return (
        "three_join",
        f"SELECT {side} AS g0, CAST(count(*) AS BIGINT) AS a0, {agg2} AS a1 "
        f"FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        f"JOIN customer c ON o.o_custkey = c.c_custkey "
        f"WHERE {pred} AND {pc} GROUP BY {side}",
    )


def shape_null_semantics(rng, pools):
    """Three-valued-logic coverage: the fixtures ship no NULLs, so
    derive them with nullif() and exercise the classic traps — null
    group keys, count(*) vs count(col), null join keys never matching,
    aggregates over all-null groups, and the NOT IN + NULL rule
    (a NULL in the subquery empties the result)."""
    variant = rng.randrange(4)
    if variant == 0:
        # null group key + count(*) vs count(col) vs sum over nulls
        t = rng.choice(["orders", "customer", "lineitem", "events"])
        ints = _cols_of(t, ("int",))
        ref, c, _ = rng.choice(ints)
        lo, hi = pools[(t, c)]
        k = rng.randint(2, 5)
        nc = f"nullif({ref} % {k}, {rng.randint(0, k - 1)})"
        return (
            "null_semantics",
            f"SELECT {nc} AS g0, CAST(count(*) AS BIGINT) AS a0, "
            f"CAST(count({nc}) AS BIGINT) AS a1, "
            f"CAST(sum({nc}) AS BIGINT) AS a2 "
            f"FROM {t} GROUP BY {nc}",
        )
    if variant == 1:
        # null join keys never match (inner) / survive as null rows (left)
        jtype = rng.choice(["JOIN", "LEFT JOIN"])
        k = rng.randint(2, 6)
        v = rng.randint(0, k - 1)
        return (
            "null_semantics",
            f"SELECT CAST(count(*) AS BIGINT) AS a0, "
            f"CAST(count(b.n_nationkey) AS BIGINT) AS a1 "
            f"FROM customer a {jtype} nation b "
            f"ON nullif(a.c_nationkey % {k}, {v}) = nullif(b.n_nationkey % {k}, {v})",
        )
    if variant == 2:
        # NOT IN with a NULL in the subquery → empty result (standard);
        # the IS NOT NULL variant restores the intuitive semantics
        guard = rng.random() < 0.5
        g = " WHERE nk IS NOT NULL" if guard else ""
        k = rng.randint(3, 8)
        v = rng.randint(0, k - 1)
        return (
            "null_semantics",
            f"SELECT CAST(count(*) AS BIGINT) AS a0 FROM customer "
            f"WHERE c_nationkey NOT IN "
            f"(SELECT nk FROM (SELECT nullif(n_nationkey % {k}, {v}) AS nk "
            f"FROM nation) s{g})",
        )
    # aggregates over an all-null column: sum/min/max → NULL, count → 0
    t = rng.choice(["supplier", "region", "documents"])
    ints = _cols_of(t, ("int", "key"))
    ref, _, _ = rng.choice(ints)
    return (
        "null_semantics",
        f"SELECT CAST(count(nullif({ref}, {ref})) AS BIGINT) AS a0, "
        f"CAST(sum(nullif({ref}, {ref})) AS BIGINT) AS a1, "
        f"CAST(max(nullif({ref}, {ref})) AS BIGINT) AS a2 FROM {t}",
    )


def shape_filter_clause(rng, pools):
    """Aggregate FILTER (WHERE …) clauses — the modern conditional-agg
    syntax, parsed and planned differently from CASE WHEN."""
    t = rng.choice(list(COLS))
    groupable = _cols_of(t, ("int", "cat"))
    gref, _, _ = rng.choice(groupable)
    conds = [gen_pred(rng, t, pools) for _ in range(rng.randint(1, 2))]
    ints = _cols_of(t, ("key", "int"))
    iref, _, _ = rng.choice(ints)
    aggs = ", ".join(
        f"CAST(count(*) FILTER (WHERE {c}) AS BIGINT) AS a{i}"
        for i, c in enumerate(conds)
    ) + f", CAST(sum({iref}) FILTER (WHERE {conds[0]}) AS BIGINT) AS asum"
    return (
        "filter_clause",
        f"SELECT {gref} AS g0, {aggs} FROM {t} GROUP BY {gref}",
    )


def shape_distinct_agg(rng, pools):
    """Multiple DISTINCT aggregates (Spark plans these via Expand —
    a distinct physical path the plain group-agg shape never hits)."""
    t = rng.choice(["customer", "orders", "lineitem", "part", "events"])
    cats = _cols_of(t, ("cat", "int"))
    g = rng.choice(cats)[0]
    ints = [c for c in _cols_of(t, ("key", "int")) if c[0] != g]
    x = rng.choice(ints)[0]
    others = [c for c in ints if c[0] != x]
    y = rng.choice(others)[0] if others else x
    pred = gen_pred(rng, t, pools) if rng.random() < 0.5 else "1 = 1"
    return (
        "distinct_agg",
        f"SELECT {g} AS k, "
        f"CAST(count(DISTINCT {x}) AS BIGINT) AS d0, "
        f"CAST(count(DISTINCT {y}) AS BIGINT) AS d1, "
        f"CAST(sum(DISTINCT {x}) AS BIGINT) AS s0, "
        f"CAST(count({x}) AS BIGINT) AS c0 "
        f"FROM {t} WHERE {pred} GROUP BY {g}",
    )


def shape_islands(rng, pools):
    """Gaps-and-islands: boundary flag from a running max over the
    PRECEDING frame, cumulative island id, island agg — two stacked
    windows + agg sharing one partitioning (the interval-union /
    sessionize pattern). Flag depends only on the ordered value, so
    ties in the total order cannot change the output. NULL values are
    filtered (Spark orders NULLS FIRST, DuckDB NULLS LAST)."""
    t = rng.choice(["customer", "orders", "lineitem", "events"])
    uniq = list(UNIQUE[t])
    parts = _cols_of(t, ("int", "cat"))
    pref = rng.choice(parts)[0]
    ints = [c for c in _cols_of(t, ("key", "int")) if c[0] != pref]
    v = rng.choice(ints)[0]
    gap = rng.choice([0, 1, 7, 1000])
    base_pred = gen_pred(rng, t, pools) if rng.random() < 0.5 else "1 = 1"
    return (
        "islands",
        f"""
WITH b AS (
  SELECT {pref} AS k, {v} AS v, {", ".join(f"{u} AS rid{j}" for j, u in enumerate(uniq))}
  FROM {t} WHERE ({base_pred}) AND {v} IS NOT NULL AND {pref} IS NOT NULL
),
fl AS (
  SELECT k, v, {", ".join(f"rid{j}" for j in range(len(uniq)))},
         CASE WHEN max(v) OVER (PARTITION BY k ORDER BY v, {", ".join(f"rid{j}" for j in range(len(uniq)))}
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                   OR v > max(v) OVER (PARTITION BY k ORDER BY v, {", ".join(f"rid{j}" for j in range(len(uniq)))}
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + {gap}
              THEN 1 ELSE 0 END AS f
  FROM b
),
isl AS (
  SELECT k, v,
         sum(f) OVER (PARTITION BY k ORDER BY v, {", ".join(f"rid{j}" for j in range(len(uniq)))}
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM fl
)
SELECT k, CAST(g AS BIGINT) AS island,
       CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi,
       CAST(count(*) AS BIGINT) AS n
FROM isl GROUP BY k, g
""",
    )


def shape_hof_array(rng, pools):
    """Higher-order array functions over the 64-dim embedding column
    (round-8 verdict #8): transform → aggregate left-fold (the dot-
    product pattern), filter → size, and a slice window — the array
    surface the similarity family runs on. Function names differ per
    engine (transform/aggregate vs list_transform/list_reduce), so
    this shape emits a (spark_sql, duck_sql) PAIR; numeric discipline
    follows queries_common._dot_sql: elements cast to DOUBLE, fold
    init 0.0 (0.0 + x == x in IEEE, matching DuckDB's init-free
    list_reduce), multipliers exactly representable in binary."""
    kslice = rng.randint(1, 64)
    off = rng.randint(1, 64 - kslice + 1) if kslice < 64 else 1
    mult = rng.choice(["0.5", "2.0", "0.25", "1.0", "4.0"])
    thr = rng.choice(["0.0", "0.25", "-0.125", "0.125"])
    mod, res = rng.choice([(7, 3), (5, 0), (11, 6), (3, 1)])
    pred = f"vec_id % {mod} = {res}"
    spark_sql = f"""
SELECT vec_id,
       CAST(aggregate(
              transform(slice(embedding, {off}, {kslice}),
                        x -> CAST(x AS DOUBLE) * {mult}),
              CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) AS DOUBLE) AS s,
       CAST(size(filter(embedding, x -> CAST(x AS DOUBLE) > {thr})) AS BIGINT) AS npos,
       CAST(size(embedding) AS BIGINT) AS dim
FROM embeddings WHERE {pred}"""
    duck_sql = f"""
SELECT vec_id,
       CAST(list_reduce(
              list_transform(embedding[{off}:{off + kslice - 1}],
                             x -> CAST(x AS DOUBLE) * {mult}),
              (acc, x) -> acc + x) AS DOUBLE) AS s,
       CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > {thr})) AS BIGINT) AS npos,
       CAST(len(embedding) AS BIGINT) AS dim
FROM embeddings WHERE {pred}"""
    return ("hof_array", spark_sql, duck_sql)


def shape_digest(rng, pools):
    """Order-free multiset digest over a random grouping — the batch
    twin of the streaming AvailableNow fingerprint (count / bit-XOR /
    modular sum of a 60-bit md5 row hash over cast-stable columns).
    Exercises the commutative-monoid aggregation path that the
    streaming AvailableNow fingerprint runs; row-hash
    construction differs per dialect (conv vs 0x-cast), so this emits
    a (spark_sql, duck_sql) pair."""
    t = rng.choice(["customer", "orders", "lineitem", "part", "events"])
    stable = [c for c, k in COLS[t].items() if k in ("key", "int", "cat", "name")]
    rng.shuffle(stable)
    cols = stable[: rng.randint(2, min(4, len(stable)))]
    grp = rng.choice([c for c, k in COLS[t].items() if k in ("cat", "int")])
    parts = ", ".join(f"coalesce(CAST({c} AS STRING), chr(30))" for c in cols)
    parts_d = ", ".join(f"coalesce(CAST({c} AS VARCHAR), chr(30))" for c in cols)
    pred = gen_pred(rng, t, pools) if rng.random() < 0.5 else "1 = 1"
    spark_sql = f"""
WITH h AS (
  SELECT {grp} AS k,
         CAST(conv(substring(md5(concat_ws(chr(31), {parts})), 1, 15), 16, 10) AS BIGINT) AS h60
  FROM {t} WHERE {pred}
)
SELECT k, CAST(count(*) AS BIGINT) AS n,
       CAST(bit_xor(h60) AS BIGINT) AS xor_h,
       CAST(sum(CAST(h60 AS DECIMAL(38,0))) % 1152921504606846976 AS BIGINT) AS sum_h
FROM h GROUP BY k"""
    duck_sql = f"""
WITH h AS (
  SELECT {grp} AS k,
         CAST(concat('0x', substr(md5(concat_ws(chr(31), {parts_d})), 1, 15)) AS BIGINT) AS h60
  FROM {t} WHERE {pred}
)
SELECT k, CAST(count(*) AS BIGINT) AS n,
       CAST(bit_xor(h60) AS BIGINT) AS xor_h,
       CAST(sum(h60) % 1152921504606846976 AS BIGINT) AS sum_h
FROM h GROUP BY k"""
    return ("digest", spark_sql, duck_sql)


def shape_string_edges(rng, pools):
    """String/regexp edge surface seeded by PORTABILITY.md: RE2-safe
    regexp_extract_all counts, 1-based substr (incl. negative starts
    and overruns — probe-confirmed portable), custom-char trim, lpad
    truncation, codepoint length, concat_ws null-skipping — on ASCII
    name/cat columns only (the collation discipline). Token counting
    uses the engine's own regexp function name per dialect."""
    t = rng.choice(["customer", "supplier", "part", "documents"])
    col = {
        "customer": "c_name",
        "supplier": "s_name",
        "part": "p_name",
        "documents": "text",
    }[t]
    key = {
        "customer": "c_custkey",
        "supplier": "s_suppkey",
        "part": "p_partkey",
        "documents": "doc_id",
    }[t]
    pat = rng.choice(["[a-z]+", "[0-9]+", "[a-z0-9_]+", "[aeiou]"])
    start = rng.choice([1, 2, 5, -3, -8])
    ln = rng.choice([1, 3, 8, 40])
    padc = rng.choice(["x", "#"])
    mod, res = rng.choice([(7, 2), (13, 5), (4, 0)])
    pred = f"{key} % {mod} = {res}"
    common = f"""
       CAST(length({col}) AS BIGINT) AS ln,
       substr({col}, {start}, {ln}) AS sub,
       lpad({col}, 6, '{padc}') AS pad,
       concat_ws('|', upper(substr({col}, 1, 3)), NULL, lower(substr({col}, 1, 2))) AS cw
"""
    spark_sql = f"""
SELECT {key} AS id,
       CAST(size(regexp_extract_all(lower({col}), '{pat}', 0)) AS BIGINT) AS ntok,{common},
       trim(BOTH '{padc}' FROM concat('{padc}', {col}, '{padc}')) AS trm
FROM {t} WHERE {pred}"""
    duck_sql = f"""
SELECT {key} AS id,
       CAST(len(regexp_extract_all(lower({col}), '{pat}')) AS BIGINT) AS ntok,{common},
       trim(concat('{padc}', {col}, '{padc}'), '{padc}') AS trm
FROM {t} WHERE {pred}"""
    return ("string_edges", spark_sql, duck_sql)


def shape_recursive(rng, pools):
    """Recursive CTE fixpoints (round-8 fourth wave: the surface
    x_sql_recursive_khop just enabled): bounded integer recursions run
    identically through Spark 4's and DuckDB's WITH RECURSIVE — an
    arithmetic series fold, a modular key walk, and a multi-row-anchor
    walk seeded FROM a table. All-integer arithmetic, depth bounded
    well under Spark's default recursion limit; the aggregate edge
    casts keep dtypes aligned."""
    variant = rng.randrange(3)
    if variant == 0:
        s = rng.randint(0, 9)
        st = rng.randint(1, 4)
        steps = rng.randint(5, 60)
        lim = s + st * steps
        sql = (
            f"WITH RECURSIVE t(n, acc) AS ("
            f"SELECT {s}, CAST({s} AS BIGINT) UNION ALL "
            f"SELECT n + {st}, acc + n + {st} FROM t WHERE n < {lim}) "
            f"SELECT CAST(count(*) AS BIGINT) AS a0, "
            f"CAST(max(acc) AS BIGINT) AS a1, "
            f"CAST(sum(n) AS BIGINT) AS a2 FROM t"
        )
        return ("recursive", sql)
    if variant == 1:
        k0 = rng.randint(0, 24)
        a = rng.choice([3, 7, 11, 17])
        b = rng.randint(0, 24)
        d = rng.randint(3, 9)
        sql = (
            f"WITH RECURSIVE w(k, level) AS ("
            f"SELECT {k0}, 0 UNION ALL "
            f"SELECT CAST((w.k * {a} + {b}) % 25 AS INT), w.level + 1 "
            f"FROM w WHERE w.level < {d}) "
            f"SELECT CAST(count(*) AS BIGINT) AS a0, "
            f"CAST(count(DISTINCT k) AS BIGINT) AS a1, "
            f"CAST(sum(k * level) AS BIGINT) AS a2 FROM w"
        )
        return ("recursive", sql)
    # multi-row anchor seeded from a real table: every seed walks the
    # same modular successor function in lockstep
    a = rng.choice([3, 7, 9])
    b = rng.randint(0, 24)
    d = rng.randint(2, 6)
    hi = rng.randint(2, 6)
    sql = (
        f"WITH RECURSIVE w(k, level) AS ("
        f"SELECT CAST(n_nationkey AS INT), 0 FROM nation "
        f"WHERE n_nationkey < {hi} UNION ALL "
        f"SELECT CAST((w.k * {a} + {b}) % 25 AS INT), w.level + 1 "
        f"FROM w WHERE w.level < {d}) "
        f"SELECT level, CAST(count(*) AS BIGINT) AS a0, "
        f"CAST(count(DISTINCT k) AS BIGINT) AS a1, "
        f"CAST(min(k) AS BIGINT) AS a2, CAST(max(k) AS BIGINT) AS a3 "
        f"FROM w GROUP BY level"
    )
    return ("recursive", sql)


def shape_variant_path(rng, pools):
    """VARIANT / JSON path extraction: a nested JSON document is constructed from real columns,
    parsed, and shredded back with typed paths — object field, string
    field, and array index. Spark goes through parse_json → VARIANT →
    variant_get; DuckDB through to_json(struct_pack) → json extraction
    operators — a per-dialect pair whose VALUES must round-trip to the
    source columns on both engines. Only non-null columns are used
    (Spark's to_json drops null fields by default while DuckDB renders
    them — a documented serialization divergence, sidestepped here)."""
    t = rng.choice(["orders", "customer", "events"])
    ints = _cols_of(t, ("int", "key"))
    cats = _cols_of(t, ("cat", "name"))
    (iref, _, _), (cref, _, _) = rng.choice(ints), rng.choice(cats)
    key = UNIQUE[t][0]
    m = rng.randint(3, 97)
    idx = rng.randrange(2)
    mod, res = rng.choice([(7, 3), (5, 0), (11, 6)])
    pred = f"{key} % {mod} = {res}"
    spark_sql = f"""
SELECT {key} AS id,
       CAST(variant_get(v, '$.a', 'bigint') AS BIGINT) AS a0,
       variant_get(v, '$.s', 'string') AS a1,
       CAST(variant_get(v, '$.arr[{idx}]', 'bigint') AS BIGINT) AS a2
FROM (SELECT {key},
             parse_json(to_json(named_struct(
               'a', {iref} % {m}, 's', {cref},
               'arr', array({iref} % 13, {iref} % 29)))) AS v
      FROM {t} WHERE {pred})"""
    duck_sql = f"""
SELECT {key} AS id,
       CAST(j->>'$.a' AS BIGINT) AS a0,
       j->>'$.s' AS a1,
       CAST(j->>'$.arr[{idx}]' AS BIGINT) AS a2
FROM (SELECT {key},
             to_json(struct_pack(
               a := {iref} % {m}, s := {cref},
               arr := [{iref} % 13, {iref} % 29])) AS j
      FROM {t} WHERE {pred})"""
    return ("variant_path", spark_sql, duck_sql)


def shape_range_frame(rng, pools):
    """RANGE frames over event-time seconds (round-9 verdict #7: a
    window-frame surface the ROWS-frame shape never generates). The
    frame is defined by VALUE distance on the epoch-seconds column —
    tie rows are peers, so count/int-sum/min-max aggregates are
    deterministic without a total order. Same text both engines; the
    es column comes from the per-engine events_es view (Spark's
    epoch dispatch vs DuckDB's epoch_ns — FIXTURES.md)."""
    g = rng.choice([60, 300, 1800, 3600, 86400])
    part = rng.choice(["user_id", "event_type"])
    frame = rng.choice(
        [
            f"RANGE BETWEEN {g} PRECEDING AND CURRENT ROW",
            f"RANGE BETWEEN CURRENT ROW AND {g} FOLLOWING",
            f"RANGE BETWEEN {g} PRECEDING AND {g} FOLLOWING",
        ]
    )
    mod, res = rng.choice([(7, 3), (5, 0), (3, 1), (11, 6)])
    m2 = rng.choice([53, 97, 193])
    sql = (
        f"SELECT event_id, {part}, es, "
        f"CAST(count(*) OVER w AS BIGINT) AS a0, "
        f"CAST(sum(event_id % {m2}) OVER w AS BIGINT) AS a1, "
        f"CAST(min(es) OVER w AS BIGINT) AS a2, "
        f"CAST(max(es) OVER w AS BIGINT) AS a3 "
        f"FROM events_es WHERE event_id % {mod} = {res} "
        f"WINDOW w AS (PARTITION BY {part} ORDER BY es {frame})"
    )
    return ("range_frame", sql)


def shape_session_window(rng, pools):
    """Built-in session_window aggregation vs the gaps-and-islands
    rewrite, randomized: Spark
    merges events whose gap is STRICTLY under the timeout, so the
    islands side breaks on diff >= gap and reconstructs
    end = last + gap. Tie rows (same user, same second) are safe:
    whichever tie order the engines pick, the tie's diff is 0 and
    session membership/extent/count are unchanged."""
    gap = rng.choice([600, 1800, 3600, 7200])
    mod, res = rng.choice([(2, 0), (2, 1), (3, 2), (5, 1)])
    pred = f"user_id % {mod} = {res}"
    spark_sql = f"""
SELECT user_id,
       CAST(session_window.start AS BIGINT) AS s_start,
       CAST(session_window.end AS BIGINT) AS s_end,
       CAST(count(*) AS BIGINT) AS n
FROM (SELECT user_id, timestamp_seconds(es) AS et FROM events_es
      WHERE {pred})
GROUP BY user_id, session_window(et, '{gap} seconds')"""
    duck_sql = f"""
WITH e AS (SELECT user_id, es FROM events_es WHERE {pred}),
o AS (
  SELECT user_id, es,
         CASE WHEN lag(es) OVER w IS NULL
                OR es - lag(es) OVER w >= {gap} THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es)
),
s AS (
  SELECT user_id, es,
         sum(brk) OVER (PARTITION BY user_id ORDER BY es
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id, CAST(min(es) AS BIGINT) AS s_start,
       CAST(max(es) + {gap} AS BIGINT) AS s_end,
       CAST(count(*) AS BIGINT) AS n
FROM s GROUP BY user_id, sid"""
    return ("session_window", spark_sql, duck_sql)


def shape_udtf_table_ewma(rng, pools):
    """TABLE-argument Python UDTF calls (round-9 verdict #7: the
    invocation form no shape generated): Spark shuffles the table
    argument by PARTITION BY, sorts each partition by ORDER BY, and
    feeds one UDTF instance per partition — here the per-key EWMA
    recursion (alpha pinned at 0.3 inside the UDTF), checked against
    DuckDB's recursive-CTE fold of literally the same IEEE-double
    arithmetic over the same (es, event_id) total order."""
    mod, res = rng.choice([(3, 0), (4, 1), (5, 2), (7, 3), (6, 5)])
    pred = f"user_id % {mod} = {res}"
    spark_sql = f"""
SELECT user_id, CAST(n AS BIGINT) AS n, round(ewma, 6) AS ewma
FROM ewma_final_udtf(
  TABLE(SELECT user_id, event_id, value,
               es * 1000000000 AS _ns
        FROM events_es WHERE {pred})
  PARTITION BY user_id ORDER BY (_ns, event_id))"""
    duck_sql = f"""
WITH RECURSIVE b AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY es, event_id) AS rn
  FROM events_es WHERE {pred}
),
r(user_id, rn, s) AS (
  SELECT user_id, rn, value FROM b WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.rn, 0.3 * b.value + 0.7 * r.s
  FROM r JOIN b ON b.user_id = r.user_id AND b.rn = r.rn + 1
),
mx AS (SELECT user_id, max(rn) AS m FROM b GROUP BY user_id)
SELECT r.user_id, CAST(mx.m AS BIGINT) AS n, round(r.s, 6) AS ewma
FROM r JOIN mx ON mx.user_id = r.user_id AND r.rn = mx.m"""
    return ("udtf_table_ewma", spark_sql, duck_sql)


def shape_variant_explode(rng, pools):
    """LATERAL variant_explode over a constructed VARIANT object
    (round-9 verdict #7: schema-on-read field ITERATION, vs
    shape_variant_path's known-path extraction): each row renders a
    2-3-field JSON object from real integer columns, Spark walks its
    fields laterally and re-aggregates per key; DuckDB computes the
    same per-key aggregates straight from the source expressions. A
    field walked twice, skipped, or value-corrupted breaks equality."""
    t = rng.choice(["orders", "customer", "events", "documents"])
    ints = _cols_of(t, ("int", "key"))
    key = UNIQUE[t][0]
    nfields = rng.choice([2, 3])
    fields = []
    for i in range(nfields):
        (iref, _, _) = rng.choice(ints)
        m = rng.choice([7, 13, 29, 53, 97])
        fields.append((f"k{chr(97 + i)}", f"{iref} % {m}"))
    mod, res = rng.choice([(3, 0), (5, 2), (7, 4), (2, 1)])
    pred = f"{key} % {mod} = {res}"
    named = ", ".join(f"'{k}', {e}" for k, e in fields)
    spark_sql = f"""
SELECT f.key AS k, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(variant_get(f.value, '$', 'bigint')) AS BIGINT) AS sum_v
FROM (SELECT parse_json(to_json(named_struct({named}))) AS v
      FROM {t} WHERE {pred}) t0,
     LATERAL variant_explode(t0.v) f
GROUP BY f.key"""
    unions = "\n  UNION ALL\n".join(
        f"  SELECT '{k}' AS k, {e} AS v FROM {t} WHERE {pred}"
        for k, e in fields
    )
    duck_sql = f"""
SELECT k, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sum_v
FROM (
{unions}
)
GROUP BY k"""
    return ("variant_explode", spark_sql, duck_sql)


# ---------------------------------------------------------------------------
# Round-10 additions (verdict #8): imperative DML on table copies —
# ManagedTable MERGE / UPDATE / DELETE vs DuckDB's native DML
# statements run against a materialized copy of the same slice. The
# one engine surface the SELECT-only families can't generate: the
# mutation path itself (DV positions, merge arms, append dirs) diffed
# against an independent imperative engine. DuckDB 1.0 has no MERGE
# statement, so the merge shape's oracle uses the textbook
# decomposition (matched-DELETE → matched-UPDATE → INSERT-unmatched →
# NMBS-DELETE → NMBS-UPDATE, against an original-keys snapshot) with
# NATIVE DELETE/UPDATE/INSERT statements — arm precedence matches
# upsert.merge_into's documented delete-wins order.
# ---------------------------------------------------------------------------

DML_TABLES = {
    "customer": ("c_custkey", "c_nationkey", "c_acctbal"),
    "orders": ("o_orderkey", "o_custkey", "o_totalprice"),
    "part": ("p_partkey", "p_size", "p_retailprice"),
}


def shape_dml_update_delete(rng, pools):
    t = rng.choice(list(DML_TABLES))
    key, icol, dbl = DML_TABLES[t]
    sm = rng.choice([2, 3])
    sr = rng.randrange(sm)
    ops = []
    for _ in range(rng.randint(2, 4)):
        pcol = rng.choice([key, icol])
        m = rng.randint(2, 7)
        r = rng.randrange(m)
        roll = rng.random()
        if roll < 0.5:
            ops.append(("update", pcol, m, r, rng.randint(1, 99)))
        elif roll < 0.85:
            ops.append(("delete", pcol, m, r))
        else:
            # minor compaction mid-sequence: relationally a no-op, so
            # the DuckDB side gets no statement — the diff proves DML
            # over a compacted chain (dead-file exclusion, residual DV)
            # still matches an independent engine
            ops.append(("compact",))
    return (
        "dml_update_delete",
        {"t": t, "key": key, "icol": icol, "dbl": dbl,
         "sm": sm, "sr": sr, "ops": ops},
    )


def shape_dml_merge(rng, pools):
    t = rng.choice(list(DML_TABLES))
    key, icol, dbl = DML_TABLES[t]
    sm = rng.choice([2, 3])
    sr = rng.randrange(sm)
    # source: a shifted overlap slice — some keys match, some don't
    src_m = rng.choice([3, 4, 5])
    src_r = rng.randrange(src_m)
    shift = rng.randint(1, 999)
    dcond = None
    if rng.random() < 0.6:
        dm = rng.randint(2, 5)
        dcond = (dm, rng.randrange(dm))  # WHEN MATCHED AND src.vmic%dm=dr DELETE
    nmbs = rng.choice(["none", "delete", "update"])
    nm = rng.randint(2, 5)
    nr = rng.randrange(nm)
    return (
        "dml_merge",
        {"t": t, "key": key, "icol": icol, "dbl": dbl, "sm": sm, "sr": sr,
         "src_m": src_m, "src_r": src_r, "shift": shift, "dcond": dcond,
         "insert": rng.random() < 0.8, "nmbs": nmbs, "nm": nm, "nr": nr},
    )


def run_dml_case(spark, con, shape: str, spec: dict):
    """Execute one DML case both ways; returns (spark_df, duck_df,
    sql_text) as pandas frames of the FINAL table state."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from strava_etl_public_spark.operators.table import ManagedTable

    t, key, icol, dbl = spec["t"], spec["key"], spec["icol"], spec["dbl"]
    sel = (
        f"SELECT {key}, {icol}, CAST(floor({dbl} * 100) AS BIGINT) AS vmic "
        f"FROM {t} WHERE {key} % {spec['sm']} = {spec['sr']}"
    )
    stmts = [f"CREATE OR REPLACE TABLE dml_tgt AS {sel}"]
    root = tempfile.mkdtemp(prefix="fuzz_dml_")
    try:
        mt = ManagedTable.create(spark.sql(sel), f"{root}/t", key=key)
        if shape == "dml_update_delete":
            for op in spec["ops"]:
                if op[0] == "compact":
                    mt.compact(dead_frac=0.1, small_bytes=64 * 1024)
                elif op[0] == "update":
                    _, pcol, m, r, d = op
                    mt.update(
                        F.col(pcol) % m == r, {"vmic": F.col("vmic") + d}
                    )
                    stmts.append(
                        f"UPDATE dml_tgt SET vmic = vmic + {d} "
                        f"WHERE {pcol} % {m} = {r}"
                    )
                else:
                    _, pcol, m, r = op
                    mt.delete(F.col(pcol) % m == r)
                    stmts.append(
                        f"DELETE FROM dml_tgt WHERE {pcol} % {m} = {r}"
                    )
        else:  # dml_merge
            src_sel = (
                f"SELECT {key}, {icol}, "
                f"CAST(floor({dbl} * 100) AS BIGINT) + {spec['shift']} AS vmic "
                f"FROM {t} WHERE {key} % {spec['src_m']} = {spec['src_r']}"
            )
            kwargs = {"insert_unmatched": spec["insert"]}
            if spec["dcond"]:
                dm, dr = spec["dcond"]
                kwargs["delete_cond"] = F.col("_s_vmic") % dm == dr
            if spec["nmbs"] == "delete":
                kwargs["not_matched_by_source_delete_cond"] = (
                    F.col(icol) % spec["nm"] == spec["nr"]
                )
            elif spec["nmbs"] == "update":
                kwargs["not_matched_by_source_update"] = {
                    "vmic": F.lit(-77).cast("long")
                }
                kwargs["not_matched_by_source_update_cond"] = (
                    F.col(icol) % spec["nm"] == spec["nr"]
                )
            mt.merge(spark.sql(src_sel), **kwargs)

            stmts.append(f"CREATE OR REPLACE TABLE m_src AS {src_sel}")
            stmts.append(
                "CREATE OR REPLACE TABLE m_orig AS "
                f"SELECT {key} FROM dml_tgt"
            )
            if spec["dcond"]:
                dm, dr = spec["dcond"]
                stmts.append(
                    f"DELETE FROM dml_tgt WHERE {key} IN "
                    f"(SELECT {key} FROM m_src WHERE vmic % {dm} = {dr})"
                )
            stmts.append(
                f"UPDATE dml_tgt SET {icol} = s.{icol}, vmic = s.vmic "
                f"FROM m_src s WHERE dml_tgt.{key} = s.{key}"
            )
            if spec["insert"]:
                stmts.append(
                    f"INSERT INTO dml_tgt SELECT * FROM m_src "
                    f"WHERE {key} NOT IN (SELECT {key} FROM m_orig)"
                )
            if spec["nmbs"] == "delete":
                stmts.append(
                    f"DELETE FROM dml_tgt WHERE {key} NOT IN "
                    f"(SELECT {key} FROM m_src) "
                    f"AND {icol} % {spec['nm']} = {spec['nr']}"
                )
            elif spec["nmbs"] == "update":
                stmts.append(
                    f"UPDATE dml_tgt SET vmic = -77 WHERE {key} NOT IN "
                    f"(SELECT {key} FROM m_src) "
                    f"AND {icol} % {spec['nm']} = {spec['nr']}"
                )
        for st in stmts:
            con.execute(st)
        d_df = con.execute(
            f"SELECT * FROM dml_tgt ORDER BY {key}"
        ).df()
        s_df = mt.read().orderBy(key).toPandas()
        return s_df, d_df, ";\n".join(stmts)
    finally:
        shutil.rmtree(root, ignore_errors=True)


SHAPES = [
    (shape_filter_project, 5),
    (shape_group_agg, 6),
    (shape_join_agg, 5),
    (shape_window, 4),
    (shape_setop, 2),
    (shape_subquery, 3),
    (shape_order_limit, 2),
    (shape_topk_per_group, 3),
    (shape_rollup, 2),
    (shape_cond_agg, 2),
    (shape_three_join, 2),
    (shape_null_semantics, 3),
    (shape_filter_clause, 2),
    (shape_distinct_agg, 2),
    (shape_islands, 2),
    # round-8 additions (verdict #8): per-dialect SQL pairs
    (shape_hof_array, 3),
    (shape_digest, 2),
    (shape_string_edges, 3),
    # round-8 fourth wave: the surfaces the recursive-CTE and VARIANT
    # queries just enabled
    (shape_recursive, 2),
    (shape_variant_path, 2),
    # round-9 additions (verdict #7): the four round-8 engine surfaces
    # the 21 prior shapes never generated
    (shape_range_frame, 3),
    (shape_session_window, 2),
    (shape_udtf_table_ewma, 2),
    (shape_variant_explode, 2),
    # round-10 additions (verdict #8): imperative DML on table copies
    (shape_dml_update_delete, 2),
    (shape_dml_merge, 2),
]


def gen_query(rng: random.Random, pools) -> tuple:
    """(shape, sql) — one text for both engines — or
    (shape, spark_sql, duck_sql) when the construct's function names
    differ per dialect (HOF arrays, md5→int, regexp count)."""
    fns = [f for f, w in SHAPES for _ in range(w)]
    return rng.choice(fns)(rng, pools)


# ---------------------------------------------------------------------------
# Exact compare (verify_oracle discipline + int/float dtype alignment)
# ---------------------------------------------------------------------------


def _norm(df: pd.DataFrame, float_cols: set) -> list[tuple]:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False):
        out = []
        for col, v in zip(df.columns, tup):
            if v is None or v is pd.NA or (
                isinstance(v, float) and math.isnan(v)
            ):
                out.append(None)
                continue
            if hasattr(v, "item"):
                try:
                    v = v.item()
                except Exception:
                    pass
            # nullable-int columns come back float64 on ONE side when
            # that side has any null — align numerics to float when
            # either side's column is floaty
            if col in float_cols and isinstance(v, int) and not isinstance(v, bool):
                v = float(v)
            out.append(v)
        rows.append(tuple(out))
    rows.sort(key=repr)
    return rows


def is_known_divergence(shape: str, s_df: pd.DataFrame, d_df: pd.DataFrame) -> str | None:
    """Documented engine-semantics differences (found BY this harness,
    seed 9413 @ sf0.01 — its second catch): Spark's Expand-based
    ROLLUP/CUBE yields ZERO rows over an empty input, while the SQL
    standard (and DuckDB/PostgreSQL) emit the grand-total grouping
    set () as one row with count 0 / NULL aggregates. Accepted as a
    divergence, not a failure — the engine's rollup/cube queries
    document Spark semantics."""
    if shape == "rollup" and len(s_df) == 0 and len(d_df) == 1:
        # the grand-total row over an EMPTY input: every group key is
        # NULL and every aggregate is NULL or a zero count. The first
        # predicate (r7) demanded all-but-one column NaN, which broke
        # the moment a query carried TWO count aggregates (both 0,
        # neither NaN) — seed 88023's catch is the same divergence.
        row = d_df.iloc[0]
        gcols = [c for c in d_df.columns if c.lower().startswith("g")]
        acols = [c for c in d_df.columns if c not in gcols]
        import pandas as _pd

        if gcols and all(_pd.isna(row[c]) for c in gcols) and all(
            _pd.isna(row[c]) or row[c] == 0 for c in acols
        ):
            return "spark: empty-input CUBE/ROLLUP emits no grand-total row"
    return None


def compare(s_df: pd.DataFrame, d_df: pd.DataFrame) -> str | None:
    s_cols, d_cols = sorted(s_df.columns), sorted(d_df.columns)
    if [c.lower() for c in s_cols] != [c.lower() for c in d_cols]:
        return f"schema: spark={s_cols} duckdb={d_cols}"
    s_df.columns = [c.lower() for c in s_df.columns]
    d_df.columns = [c.lower() for c in d_df.columns]
    if len(s_df) != len(d_df):
        return f"rows: spark={len(s_df)} duckdb={len(d_df)}"
    floaty = set()
    for c in s_df.columns:
        for df in (s_df, d_df):
            if str(df[c].dtype).startswith("float"):
                floaty.add(c)
    a, b = _norm(s_df, floaty), _norm(d_df, floaty)
    if a != b:
        for i, (x, y) in enumerate(zip(a, b)):
            if x != y:
                return f"values differ at sorted row {i}: spark={x!r} duckdb={y!r}"
        return "values differ (row multiset)"
    return None


# ---------------------------------------------------------------------------


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 240
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 7001

    from strava_etl_public_spark.session import get_spark, ensure_harness_conf

    spark = get_spark(cpus=8)
    ensure_harness_conf(spark)
    con = duckdb.connect()
    for t in list(COLS) + ["documents", "embeddings"]:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)

    # per-engine event-time view (epoch dispatch — FIXTURES.md): the
    # round-9 shapes (RANGE frames, session_window, table-arg UDTF)
    # need event-time seconds, which each engine derives its own way
    from strava_etl_public_spark.functions import epoch as ep
    from strava_etl_public_spark.operators.udtfs import register_udtfs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.withColumn("es", ep.epoch_s(ev, "ts").cast("long")).drop(
        "ts"
    ).createOrReplaceTempView("events_es")
    con.execute(
        "CREATE OR REPLACE VIEW events_es AS "
        "SELECT * EXCLUDE (ts), CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es "
        f"FROM read_parquet('{sf_dir}/events.parquet')"
    )
    register_udtfs(spark)

    pools = build_pools(con)
    failures: list[dict] = []
    counts: dict[str, int] = {}
    for i in range(n_queries):
        rng = random.Random(f"{seed}:{i}")
        spec = gen_query(rng, pools)
        shape = spec[0]
        counts[shape] = counts.get(shape, 0) + 1
        tag = f"[{i:03d} {shape}]"
        if shape.startswith("dml_"):
            try:
                s_df, d_df, sql = run_dml_case(spark, con, shape, spec[1])
            except Exception as e:  # noqa: BLE001 — a DML crash IS a finding
                failures.append({"i": i, "shape": shape, "spec": repr(spec[1]),
                                 "err": f"{type(e).__name__}: {e}"})
                print(f"FAIL {tag} error: {type(e).__name__}: {str(e)[:200]}",
                      flush=True)
                continue
            diff = compare(s_df, d_df)
            if diff:
                failures.append({"i": i, "shape": shape, "sql": sql, "err": diff})
                print(f"FAIL {tag} {diff}\n  SQL: {sql}", flush=True)
            elif i % 40 == 0:
                print(f"ok   {tag} {len(d_df)} rows", flush=True)
            continue
        s_sql = spec[1]
        d_sql = spec[2] if len(spec) > 2 else spec[1]
        sql = s_sql if s_sql == d_sql else f"-- spark:\n{s_sql}\n-- duckdb:\n{d_sql}"
        try:
            d_df = con.execute(d_sql).df()
            if len(d_df) > MAX_ROWS:
                failures.append({"i": i, "shape": shape, "sql": sql,
                                 "err": f"oracle produced {len(d_df)} rows (> cap)"})
                print(f"FAIL {tag} row-cap", flush=True)
                continue
            s_df = spark.sql(s_sql).toPandas()
        except Exception as e:  # noqa: BLE001 — a dialect crash IS a finding
            failures.append({"i": i, "shape": shape, "sql": sql,
                             "err": f"{type(e).__name__}: {e}"})
            print(f"FAIL {tag} error: {type(e).__name__}: {str(e)[:200]}", flush=True)
            continue
        diff = compare(s_df, d_df)
        if diff:
            known = is_known_divergence(shape, s_df, d_df)
            if known:
                print(f"ok   {tag} known divergence: {known}", flush=True)
            else:
                failures.append({"i": i, "shape": shape, "sql": sql, "err": diff})
                print(f"FAIL {tag} {diff}\n  SQL: {sql}", flush=True)
        elif i % 40 == 0:
            print(f"ok   {tag} {len(d_df)} rows", flush=True)

    print(f"\nshapes: {counts}")
    if failures:
        with open("FUZZ_FAILURES.json", "w") as f:
            json.dump({"seed": seed, "sf_dir": sf_dir, "failures": failures}, f, indent=1)
        print(f"{n_queries - len(failures)}/{n_queries} match; "
              f"{len(failures)} MISMATCHES → FUZZ_FAILURES.json")
        return 1
    print(f"{n_queries}/{n_queries} random queries match exactly (seed {seed})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

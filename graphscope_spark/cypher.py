"""Cypher-subset front end compiling to DataFrame plans.

The reference's GIE accepts Cypher alongside Gremlin (GOpt compiler,
docs/interactive_engine/neo4j/supported_cypher.md — the clause inventory
this module mirrors: MATCH chains (multiple MATCH clauses join their
pattern trees on shared variables) + OPTIONAL MATCH, WHERE incl.
``NOT EXISTS`` as anti-join, chained WITH .. AS (project/aggregate/
distinct, supported_cypher.md:145; a WHERE after a WITH filters it —
SQL's HAVING), RETURN .. AS with aggregates/DISTINCT, ORDER BY, LIMIT,
and the anchored ``shortestPath()`` form, supported_cypher.md:118).
Queries lower to the same join-tree the Gremlin ``match()`` step uses:
every relationship pattern is an equi-join against the (deduplicated)
edge table, OPTIONAL MATCH is a left outer join, NOT EXISTS an anti-join
— all one Catalyst plan, so filter pushdown / join reordering /
broadcast selection are automatic.

Scope notes (documented deviations, all reference-sanctioned):
* simple-graph semantics — at most one edge per ordered vertex pair
  (the projected-fragment contract); relationship variables are not
  bindable, only node variables.
* single label space: ``(a:Label)`` filters are accepted but only the
  trivial 'vertex' label exists on a simple Graph (PropertyGraph.project
  upstream handles real multi-label).
* variable-length patterns ``-[*lo..hi]->`` lower onto PathExpand.

Grammar (case-insensitive keywords)::

    MATCH <pattern> (, <pattern>)* (MATCH <pattern> (, <pattern>)*)*
    [OPTIONAL MATCH <pattern>]
    [WHERE <cond> (AND <cond>)*]
    (WITH [DISTINCT] <item> (, <item>)* [WHERE <cond> (AND <cond>)*])*
    RETURN [DISTINCT] <item> (, <item>)*
    [ORDER BY <col> [ASC|DESC] (, ...)*] [LIMIT n]

    pattern  := node (rel node)*
    node     := '(' [var] [':' label] ')'
    rel      := '-[]->' | '<-[]-' | '-[]-' | '-[*lo..hi]->'
    cond     := term op term | NOT EXISTS '(' pattern ')'
    term     := var | id(var) | var.prop | number | 'string'
    item     := term [AS alias] | count(*) | count/sum/min/max/avg(term)
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import Graph

__all__ = ["CypherSession"]

_NODE = re.compile(r"\(\s*(\w*)\s*(?::\s*(\w+))?\s*\)")
_REL = re.compile(
    r"^\s*(<-|-)\s*\[\s*(?:(\*)\s*(?:(\d+)\s*\.\.\s*(\d+))?)?\s*\]\s*(->|-)\s*"
)
_OPS = {
    "=": lambda a, b: a == b, "<>": lambda a, b: a != b,
    "<=": lambda a, b: a <= b, ">=": lambda a, b: a >= b,
    "<": lambda a, b: a < b, ">": lambda a, b: a > b,
}
_AGGS = {"count": F.count, "sum": F.sum, "min": F.min, "max": F.max,
         "avg": F.avg}


@dataclass
class _Rel:
    a: str
    b: str
    direction: str          # 'out' | 'in' | 'both'
    lo: int | None = None   # variable-length bounds (PathExpand)
    hi: int | None = None
    unbounded: bool = False  # bare [*] — only shortestPath() accepts it


@dataclass
class _Query:
    rels: list[_Rel] = field(default_factory=list)
    opt_rels: list[_Rel] = field(default_factory=list)
    singletons: list[str] = field(default_factory=list)
    conds: list[str] = field(default_factory=list)
    # chained WITH clauses in order: (distinct, items, having-conds) —
    # each is an intermediate projection; a WHERE after a WITH filters
    # that projection (SQL HAVING when the WITH aggregated)
    withs: list[tuple[bool, list[tuple[str, str]], list[str]]] = field(
        default_factory=list)
    distinct: bool = False
    items: list[tuple[str, str]] = field(default_factory=list)  # (expr, alias)
    order: list[tuple[str, bool]] = field(default_factory=list)  # (col, desc)
    limit: int | None = None


def _parse_pattern(text: str, anon: list[int]) -> tuple[list[_Rel], list[str]]:
    """One comma-free pattern chain → relationship list (+ bare nodes)."""
    rels: list[_Rel] = []
    nodes: list[str] = []
    pos = 0
    prev: str | None = None
    while pos < len(text):
        m = _NODE.match(text, pos)
        if not m:
            raise ValueError(f"expected node pattern at: {text[pos:]!r}")
        var = m.group(1)
        if not var:
            anon[0] += 1
            var = f"_anon{anon[0]}"
        nodes.append(var)
        pos = m.end()
        if prev is not None:
            rels.append(_pending_rel(prev_rel[0], prev, var))
        rest = text[pos:]
        if not rest.strip():
            break
        rm = _REL.match(rest)
        if not rm:
            raise ValueError(f"expected relationship at: {rest!r}")
        left, star, lo, hi, right = rm.groups()
        if left == "<-" and right == "-":
            d = "in"
        elif left == "-" and right == "->":
            d = "out"
        elif left == "-" and right == "-":
            d = "both"
        else:
            raise ValueError(f"bad relationship arrows: {rest!r}")
        prev_rel = [(d, int(lo) if lo else None, int(hi) if hi else None,
                     bool(star) and lo is None)]
        prev = var
        pos += rm.end()
    return rels, nodes


def _pending_rel(spec, a, b) -> _Rel:
    d, lo, hi, unbounded = spec
    return _Rel(a=a, b=b, direction=d, lo=lo, hi=hi, unbounded=unbounded)


def _split_top(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parentheses/brackets."""
    out, depth, cur = [], 0, []
    for ch in text:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == sep and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return [s.strip() for s in out if s.strip()]


def _parens_balanced(s: str) -> bool:
    """Depth never negative and zero at the end (quoted strings masked)."""
    depth = 0
    i = 0
    while i < len(s):
        ch = s[i]
        if ch == "'":
            j = i + 1
            while j < len(s):
                if s[j] == "'" and not (j + 1 < len(s) and s[j + 1] == "'"):
                    break
                j += 2 if s[j] == "'" else 1
            i = j
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                return False
        i += 1
    return depth == 0


# a CASE/END keyword is a whole word: no letter, digit, _ or . (property
# access, as in n.end or a.showcase) on either side
_CASE_END = re.compile(r"(?is)(?<![\w.])(CASE|END)(?![\w.])")


def _keyword(t: str, i: int) -> str | None:
    """The CASE/END keyword starting at ``t[i]``, upper-cased, or None."""
    m = _CASE_END.match(t, i)
    return m.group(1).upper() if m else None


def _mask_quotes(t: str) -> str:
    """``t`` with each quoted literal's body blanked, same length."""
    return re.sub(r"'(?:[^']|'')*'",
                  lambda m: "'" + " " * (len(m.group(0)) - 2) + "'", t)


def _top_level_op(t: str, ops: str) -> int | None:
    """Rightmost position of a BINARY operator from ``ops`` at paren
    depth 0 outside quotes — None if absent. A +/- preceded (ignoring
    spaces) by nothing or another operator is unary, not binary."""
    depth = 0
    i = 0
    best = None
    while i < len(t):
        ch = t[i]
        if ch == "'":
            j = i + 1
            while j < len(t):
                if t[j] == "'" and not (j + 1 < len(t) and t[j + 1] == "'"):
                    break
                j += 2 if t[j] == "'" else 1
            i = j
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and _keyword(t, i) == "CASE":
            # a CASE...END block is opaque to the operator scan (its WHEN
            # arms hold arbitrary expressions at this paren depth) — jump
            # to the matching END, honoring nested CASEs; keywords inside
            # quotes are masked, length-preserving
            nest = 0
            for m in _CASE_END.finditer(_mask_quotes(t), i):
                nest += 1 if m.group(1).upper() == "CASE" else -1
                if nest == 0:
                    i = m.end() - 1
                    break
            else:
                raise ValueError(f"unbalanced CASE (no matching END): {t!r}")
        elif depth == 0 and ch in ops:
            prev = t[:i].rstrip()
            if not prev or prev[-1] in "+-*/%(<>=,":
                pass  # unary sign / leading operator — not a split point
            else:
                best = i
        i += 1
    return best


_CLAUSE = re.compile(
    r"(?is)^\s*MATCH\s+(?P<match>.*?)"
    r"(?:\s+OPTIONAL\s+MATCH\s+(?P<opt>.*?))?"
    r"(?:\s+WHERE\s+(?P<where>.*?))?"
    r"(?:\s+WITH\s+(?P<with>.*?))?"
    r"\s+RETURN\s+(?P<ret>.*?)"
    r"(?:\s+ORDER\s+BY\s+(?P<order>.*?))?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?\s*;?\s*$"
)


def _parse_items(text: str) -> tuple[bool, list[tuple[str, str]]]:
    """``[DISTINCT] item (, item)*`` → (distinct, [(expr, alias)])."""
    distinct = bool(re.match(r"(?i)^DISTINCT\s+", text))
    if distinct:
        text = re.sub(r"(?i)^DISTINCT\s+", "", text)
    items: list[tuple[str, str]] = []
    for item in _split_top(text):
        am = re.match(r"(?is)^(.*?)\s+AS\s+(\w+)$", item)
        if am:
            items.append((am.group(1).strip(), am.group(2)))
        else:
            items.append((item, re.sub(r"\W+", "_", item).strip("_")))
    return distinct, items


def _parse(q: str) -> _Query:
    # fold the two-word string operators into single tokens FIRST — their
    # trailing WITH would otherwise satisfy the WITH-clause matcher
    q = re.sub(r"(?i)\bSTARTS\s+WITH\b", "STARTSWITH", q)
    q = re.sub(r"(?i)\bENDS\s+WITH\b", "ENDSWITH", q)
    m = _CLAUSE.match(q)
    if not m:
        raise ValueError("unsupported Cypher shape (need MATCH ... RETURN ...)")
    out = _Query()
    anon = [0]
    # chained MATCH clauses (MATCH p1 MATCH p2 ...) are joins of pattern
    # trees on shared variables — the same lowering as comma patterns
    # within one MATCH, so fold them into one conjunctive list. (Real
    # Cypher additionally enforces relationship uniqueness per MATCH;
    # the GIE subset this mirrors does not, and neither do we.)
    for clause in re.split(r"(?i)\s+MATCH\s+", m.group("match")):
        for chain in _split_top(clause):
            rels, nodes = _parse_pattern(chain, anon)
            out.rels.extend(rels)
            if not rels and len(nodes) == 1:
                out.singletons.append(nodes[0])
    if m.group("opt"):
        for chain in _split_top(m.group("opt")):
            rels, _ = _parse_pattern(chain, anon)
            out.opt_rels.extend(rels)
    if m.group("where"):
        out.conds = re.split(r"(?i)\s+AND\s+", m.group("where").strip())
    if m.group("with"):
        # CHAINED WITH clauses (WITH a ... WITH b ... RETURN): the lazy
        # capture holds the whole region; split on the keyword and peel
        # an optional trailing WHERE off each segment
        for seg in re.split(r"(?i)\s+WITH\s+", m.group("with").strip()):
            parts = re.split(r"(?i)\s+WHERE\s+", seg, maxsplit=1)
            distinct, items = _parse_items(parts[0].strip())
            having = (re.split(r"(?i)\s+AND\s+", parts[1].strip())
                      if len(parts) > 1 else [])
            out.withs.append((distinct, items, having))
    out.distinct, out.items = _parse_items(m.group("ret").strip())
    if m.group("order"):
        for ob in _split_top(m.group("order")):
            dm = re.match(r"(?is)^(\w+)(?:\s+(ASC|DESC))?$", ob.strip())
            if not dm:
                raise ValueError(f"bad ORDER BY item: {ob!r}")
            out.order.append((dm.group(1),
                              (dm.group(2) or "ASC").upper() == "DESC"))
    if m.group("limit"):
        out.limit = int(m.group("limit"))
    return out


class CypherSession:
    """Bind a Graph (+ optional vertex property table keyed by ``id``) and
    run Cypher-subset queries — the GIE CypherGS analog."""

    def __init__(self, graph: Graph, vertex_props: DataFrame | None = None):
        self.graph = graph
        self.props = vertex_props if vertex_props is not None else graph.vertices
        self._pairs: dict[str, DataFrame] = {}

    # ----------------------------------------------------------- edges
    def _edge_pairs(self, direction: str) -> DataFrame:
        """Deduplicated (src, dst) pairs per direction — memoized and
        persisted per session, so an N-relationship pattern pays the dedup
        shuffle once, not N times (each join then reuses the cached,
        already-partitioned table)."""
        if direction in self._pairs:
            return self._pairs[direction]
        e = self.graph.edges.select("src", "dst").distinct()
        if direction == "in":
            e = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        elif direction == "both":
            e = e.union(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ).distinct()
        e = e.persist()
        self._pairs[direction] = e
        return e

    def _rel_df(self, rel: _Rel) -> DataFrame:
        """Binding table (a, b) for one relationship pattern."""
        if rel.unbounded:
            raise ValueError(
                "unbounded [*] is only supported inside shortestPath(); "
                "give bounds, e.g. [*1..4]"
            )
        if rel.lo is not None:
            from graphscope_spark.operators.traversal import path_expand
            starts = self.graph.vertices.select(F.col("id").alias("v"))
            ends = path_expand(
                starts, self.graph, min_hops=rel.lo, max_hops=rel.hi,
                direction=rel.direction,
            )
            return ends.select(F.col("start").alias(rel.a),
                               F.col("v").alias(rel.b)).distinct()
        return self._edge_pairs(rel.direction).select(
            F.col("src").alias(rel.a), F.col("dst").alias(rel.b)
        )

    def _bind(self, rels: list[_Rel], base: DataFrame | None,
              how: str = "inner") -> DataFrame | None:
        """Fold relationship patterns into the binding table — the same
        join-tree lowering as gremlin.GraphTraversalSource.match (semi for
        both-bound existence, equi-join to extend, cross for disjoint)."""
        bind = base
        bound: set[str] = set(bind.columns) if bind is not None else set()
        pending = list(rels)
        while pending:
            # greedy join order (the ExtendIntersectRule analog, cheapest
            # class first): (1) both endpoints already bound — a semi-join
            # that only SHRINKS the binding, apply before any extension
            # grows it; (2) one endpoint bound — an extension equi-join;
            # (3) disjoint — cross join, deferred to last.
            idx = next((i for i, r in enumerate(pending)
                        if r.a in bound and r.b in bound), None)
            if idx is None:
                idx = next((i for i, r in enumerate(pending)
                            if r.a in bound or r.b in bound), 0)
            r = pending.pop(idx)
            e = self._rel_df(r)
            if bind is None:
                bind, bound = e, {r.a, r.b}
            elif r.a in bound and r.b in bound:
                bind = bind.join(e, [r.a, r.b],
                                 "left_semi" if how == "inner" else how)
            elif r.a in bound or r.b in bound:
                on = r.a if r.a in bound else r.b
                bind = bind.join(e, on, how)
                bound |= {r.a, r.b}
            else:
                bind = bind.crossJoin(e)
                bound |= {r.a, r.b}
        return bind

    # ------------------------------------------------------ expressions
    def _term(self, t: str, bind: DataFrame) -> tuple[Column, DataFrame]:
        t = t.strip()
        # one redundant outer paren pair: (expr) → expr
        if t.startswith("(") and t.endswith(")") \
                and _parens_balanced(t[1:-1]):
            return self._term(t[1:-1], bind)
        if _keyword(t, 0) == "CASE" and re.search(r"(?is)(?<![\w.])END\s*$", t):
            # searched CASE: CASE WHEN c THEN v [WHEN c THEN v]...
            # [ELSE v] END → Catalyst when/otherwise chain (JVM-side;
            # the reference marks Cypher CASE "planned",
            # docs/interactive_engine/neo4j/supported_cypher.md:105 —
            # the expression layer already had when/otherwise, this adds
            # the grammar). Conditions use the comparison/string forms
            # of _cond; pattern predicates (NOT EXISTS) and nested CASE
            # are not supported. String literals are MASKED before the
            # keyword split so 'when'/'else'/'end' inside quotes can't
            # derail the structure ("THEN 'use when needed'" is legal).
            lits: list[str] = []

            def _mask(mm):
                lits.append(mm.group(0))
                return f"\x00{len(lits) - 1}\x00"

            def _unmask(s2: str) -> str:
                return re.sub(r"\x00(\d+)\x00",
                              lambda mm: lits[int(mm.group(1))], s2)

            # Cypher escapes a quote inside a string literal by doubling
            # it ('it''s') — the mask must swallow the doubled quote or
            # the literal unbalances and WHEN/ELSE/END splits derail
            masked = re.sub(r"'(?:[^']|'')*'", _mask, t)
            cm = re.match(r"(?is)^CASE\s+(.*?)\s+END$", masked)
            if not cm:
                raise ValueError(f"unsupported CASE shape: {t!r}")
            body = cm.group(1)
            else_txt = None
            em = re.match(r"(?is)^(.*)\s+ELSE\s+(.*?)$", body)
            if em:
                body, else_txt = em.group(1), em.group(2)
            col = None
            for w in re.split(r"(?i)\bWHEN\b", body):
                w = w.strip()
                if not w:
                    continue
                cw = re.match(r"(?is)^(.*?)\s+THEN\s+(.*)$", w)
                if not cw:
                    raise ValueError(f"unsupported CASE arm: {w!r}")
                cond, bind = self._cond(_unmask(cw.group(1)), bind)
                if cond is None:
                    raise ValueError(
                        "pattern predicates are not supported in CASE")
                val, bind = self._term(_unmask(cw.group(2)), bind)
                col = (F.when(cond, val) if col is None
                       else col.when(cond, val))
            if col is None:
                raise ValueError(f"CASE with no WHEN arm: {t!r}")
            if else_txt is not None:
                ev, bind = self._term(_unmask(else_txt), bind)
                col = col.otherwise(ev)
            return col, bind
        # binary arithmetic (supported_cypher.md lists +,-,*,/,%% under
        # operators): split at the RIGHTMOST top-level +/- first (lowest
        # precedence, left associativity), then */%; operands recurse, so
        # parenthesized subexpressions and CASE operands compose. Lowered
        # to Catalyst column arithmetic — JVM-side, codegen'd.
        for ops in ("+-", "*/%"):
            pos = _top_level_op(t, ops)
            if pos is not None:
                lhs, bind = self._term(t[:pos], bind)
                rhs, bind = self._term(t[pos + 1:], bind)
                op = t[pos]
                return {
                    "+": lhs + rhs, "-": lhs - rhs, "*": lhs * rhs,
                    "/": lhs / rhs, "%": lhs % rhs,
                }[op], bind
        im = re.match(r"(?i)^id\(\s*(\w+)\s*\)$", t)
        if im:
            return F.col(im.group(1)), bind
        pm = re.match(r"^(\w+)\.(\w+)$", t)
        if pm:
            var, prop = pm.groups()
            col = f"{var}__{prop}"
            if col not in bind.columns:
                p = self.props.select(F.col("id").alias(var),
                                      F.col(prop).alias(col))
                bind = bind.join(p, var, "left")
            return F.col(col), bind
        if re.match(r"^-?\d+\.?\d*$", t):
            return F.lit(float(t) if "." in t else int(t)), bind
        sm = re.match(r"^'(.*)'$", t)
        if sm:
            return F.lit(sm.group(1)), bind
        if re.match(r"^\w+$", t):
            return F.col(t), bind
        raise ValueError(f"unsupported term: {t!r}")

    def _cond(self, c: str, bind: DataFrame) -> tuple[Column | None, DataFrame]:
        nm = re.match(r"(?is)^NOT\s+EXISTS\s*\((.*)\)\s*$", c.strip())
        if nm:
            rels, _ = _parse_pattern(nm.group(1).strip(), [99])
            # anti-join against the bound columns of the pattern
            sub = None
            for r in rels:
                e = self._rel_df(r)
                if sub is None:
                    sub = e
                else:
                    shared = list(set(sub.columns) & {r.a, r.b})
                    sub = sub.join(e, shared) if shared else sub.crossJoin(e)
            keys = [c2 for c2 in sub.columns if c2 in bind.columns]
            if not keys:
                raise ValueError("NOT EXISTS pattern shares no variable "
                                 "with the MATCH binding")
            return None, bind.join(sub.select(*keys).distinct(), keys,
                                   "left_anti")
        sm = re.match(
            r"(?is)^(.*?)\s+(STARTSWITH|ENDSWITH|CONTAINS)\s+(.*)$",
            c.strip())
        if sm:
            # string comparisons (supported_cypher.md:92-94; _parse folded
            # 'STARTS WITH'/'ENDS WITH' into one token) → Catalyst
            # startswith/endswith/contains (JVM-side, codegen'd)
            lhs, bind = self._term(sm.group(1), bind)
            rhs, bind = self._term(sm.group(3), bind)
            fn = {"STARTSWITH": lhs.startswith, "ENDSWITH": lhs.endswith,
                  "CONTAINS": lhs.contains}[sm.group(2).upper()]
            return fn(rhs), bind
        m = re.match(r"(?s)^(.*?)\s*(<>|<=|>=|=|<|>)\s*(.*)$", c.strip())
        if not m:
            raise ValueError(f"unsupported condition: {c!r}")
        lhs, bind = self._term(m.group(1), bind)
        rhs, bind = self._term(m.group(3), bind)
        return _OPS[m.group(2)](lhs, rhs), bind

    def _project(self, bind: DataFrame, items: list[tuple[str, str]],
                 distinct: bool) -> DataFrame:
        """Lower one projection list (WITH or RETURN): aggregates force a
        groupBy over the plain items."""
        plain: list[tuple[Column, str]] = []
        aggs: list[Column] = []
        for expr, alias in items:
            am = re.match(r"(?is)^(count|sum|min|max|avg)\(\s*(.*?)\s*\)$",
                          expr.strip())
            if am:
                fn, arg = am.group(1).lower(), am.group(2)
                if fn == "count" and arg.strip() == "*":
                    aggs.append(F.count(F.lit(1)).alias(alias))
                else:
                    col, bind = self._term(arg, bind)
                    aggs.append(_AGGS[fn](col).alias(alias))
            else:
                col, bind = self._term(expr, bind)
                plain.append((col, alias))
        if aggs:
            return (bind.groupBy(*[c.alias(a) for c, a in plain]).agg(*aggs)
                    if plain else bind.agg(*aggs))
        out = bind.select(*[c.alias(a) for c, a in plain])
        return out.distinct() if distinct else out

    # ------------------------------------------------- shortestPath()
    _SP = re.compile(
        r"(?is)^\s*MATCH\s+(?P<pvar>\w+)\s*=\s*shortestPath\s*"
        r"\(\s*(?P<pat>.*?)\s*\)\s*"
        r"WHERE\s+(?P<where>.*?)\s+RETURN\s+(?P<ret>.*?)"
        r"(?:\s+ORDER\s+BY\s+(?P<order>.*?))?"
        r"(?:\s+LIMIT\s+(?P<limit>\d+))?\s*;?\s*$"
    )

    def _run_shortest_path(self, m) -> DataFrame:
        """MATCH p = shortestPath((a)-[*]->(b)) WHERE a = X AND b = Y —
        the anchored shortestPath form (GOpt supports shortestPath as a
        PathExpand with hop-count weight, algebra.proto:358-383; the
        anchored shape is what its examples exercise). Lowers to
        :func:`graphscope_spark.algorithms.simple_paths.shortest_path_
        expand`, which enumerates ONLY the shortest-path DAG. RETURN terms:
        ``p`` (the path string), ``length(p)`` (hops), plus the endpoint
        variables."""
        from graphscope_spark.algorithms.simple_paths import (
            shortest_path_expand,
        )
        anon = [0]
        rels, _nodes = _parse_pattern(m.group("pat"), anon)
        if len(rels) != 1:
            raise ValueError("shortestPath() takes a single (a)-[*]-(b)")
        rel = rels[0]
        anchors: dict[str, int] = {}
        for cond in _split_top(m.group("where"), ","):
            for part in re.split(r"(?i)\s+AND\s+", cond):
                cm = re.match(r"^\s*(\w+)\s*=\s*(\d+)\s*$", part)
                if not cm:
                    raise ValueError(
                        f"shortestPath WHERE must anchor endpoints: {part!r}"
                    )
                anchors[cm.group(1)] = int(cm.group(2))
        if rel.a not in anchors or rel.b not in anchors:
            raise ValueError("both shortestPath endpoints must be anchored")
        g = self.graph
        if rel.direction == "both" and g.directed:
            g = g.to_undirected()
        elif rel.direction == "in":
            rel = _Rel(a=rel.b, b=rel.a, direction="out")
        paths = shortest_path_expand(g, anchors[rel.a], anchors[rel.b])
        pvar = m.group("pvar")
        cols: dict[str, Column] = {
            pvar: F.col("path_str"),
            f"length({pvar})": F.col("hops"),
            rel.a: F.lit(anchors[rel.a]),
            rel.b: F.lit(anchors[rel.b]),
        }
        _, items = _parse_items(m.group("ret"))
        sel = []
        for expr, alias in items:
            key = re.sub(r"\s+", "", expr)
            if key not in cols:
                raise ValueError(f"unsupported shortestPath RETURN: {expr!r}")
            sel.append(cols[key].alias(alias))
        out = paths.select(*sel)
        if m.group("order"):
            obs = []
            for ob in _split_top(m.group("order")):
                om = re.match(r"(?is)^(\S+)(?:\s+(ASC|DESC))?$", ob.strip())
                obs.append(F.col(om.group(1)).desc()
                           if om.group(2) and om.group(2).upper() == "DESC"
                           else F.col(om.group(1)).asc())
            out = out.orderBy(*obs)
        if m.group("limit"):
            out = out.limit(int(m.group("limit")))
        return out

    # ------------------------------------------------------------- run
    def run(self, query: str) -> DataFrame:
        spm = self._SP.match(query)
        if spm:
            return self._run_shortest_path(spm)
        q = _parse(query)
        bind = None
        rel_vars = {r.a for r in q.rels} | {r.b for r in q.rels}
        for v in q.singletons:
            if v in rel_vars:
                continue  # the relationship join binds it with multiplicity
            vs = self.graph.vertices.select(F.col("id").alias(v))
            bind = vs if bind is None else bind.crossJoin(vs)
        bind = self._bind(q.rels, bind)
        if bind is None:
            raise ValueError("empty MATCH")
        bind = bind.distinct()
        if q.opt_rels:
            bind = self._bind(q.opt_rels, bind, how="left")
        for c in q.conds:
            col, bind = self._cond(c, bind)
            if col is not None:
                bind = bind.filter(col)
        for w_distinct, w_items, w_having in q.withs:
            # WITH = an intermediate projection (supported_cypher.md:145,
            # "project, aggregate, distinct"); a WHERE after it filters the
            # projected/aggregated columns — SQL's HAVING when WITH
            # aggregated. Downstream clauses see only the WITH aliases;
            # chains apply in order (multi-WITH, round-5 grammar addition).
            bind = self._project(bind, w_items, w_distinct)
            for c in w_having:
                col, bind = self._cond(c, bind)
                if col is not None:
                    bind = bind.filter(col)
        out = self._project(bind, q.items, q.distinct)
        if q.order:
            out = out.orderBy(*[F.col(c).desc() if d else F.col(c).asc()
                                for c, d in q.order])
        if q.limit is not None:
            out = out.limit(q.limit)
        return out

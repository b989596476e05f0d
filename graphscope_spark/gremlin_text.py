"""Gremlin STRING front end — parse a text traversal and lower it onto
the Python DSL (:mod:`graphscope_spark.gremlin`).

The reference accepts Gremlin as text through gremlinpython/HTTP and
compiles it with an Antlr grammar (interactive_engine/compiler
antlr4 GremlinGS.g4); this module closes the same API shape for the
step families the DSL already lowers (docs/interactive_engine/tinkerpop/
supported_gremlin_steps.md): a hand-written tokenizer + recursive-descent
parser over method-chain syntax, evaluated against
:class:`~graphscope_spark.gremlin.Traversal`. No eval()/exec() — the
grammar is closed.

Supported grammar::

    query   := 'g' '.' source ('.' step)*
    source  := ('V' | 'E') '(' literals? ')'
    step    := NAME '(' args? ')'
    arg     := literal | pred | anon | NAME
    pred    := ['P' '.'] ('eq'|'neq'|'lt'|'lte'|'gt'|'gte'|'inside') '(' literals ')'
             | ['P' '.'] ('within'|'without') '(' literals ')'
    anon    := '__' ('.' step)*
    literal := int | float | 'single-quoted' | "double-quoted" | true | false

Step names map to the DSL with the Python-keyword suffix stripped
(``as`` → ``as_``, ``in`` → ``in_``, ``is`` → ``is_``, ``not`` → ``not_``,
``filter`` → ``filter_``); ``select('a')`` mid-chain re-heads on the tag
(``select_tag``) while a trailing multi-tag ``select`` is the terminal
projection; ``repeat(__.out()).times(n)`` lowers to the PathExpand sugar
(``repeat_times``), with an optional ``.simplePath()`` inside the repeat
body mapping to SIMPLE path_opt. Terminal steps (count/sum/min/max/mean/
fold/path/select/groupCount/group) return DataFrames; everything else
returns a Traversal (call ``.to_df()`` or keep chaining in Python).
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame

from graphscope_spark.graph import Graph
from graphscope_spark.gremlin import P, Traversal, traversal

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<num>-?\d+\.\d+|-?\d+)
      | (?P<str>'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")
      | (?P<name>[A-Za-z_][A-Za-z0-9_]*)
      | (?P<punct>[().,])
    )""",
    re.VERBOSE,
)

_PREDS = {"eq", "neq", "lt", "lte", "gt", "gte", "within", "without",
          "inside"}

#: gremlin-text name → DSL method (identity unless listed)
_RENAME = {
    "as": "as_",
    "in": "in_",
    "is": "is_",
    "not": "not_",
    "filter": "filter_",
    "id": "id_",
    "groupCount": "group_count",
    "hasId": "hasId",
    "hasNot": "hasNot",
    "hasLabel": "hasLabel",
    "valueMap": "valueMap",
    "elementMap": "elementMap",
}

#: steps whose DSL lowering returns a DataFrame (chain must end there)
_TERMINAL = {"count", "sum", "min", "max", "mean", "fold", "path",
             "group_count", "group"}


class _Tokens:
    def __init__(self, text: str):
        self.toks: list[tuple[str, str]] = []
        pos = 0
        while pos < len(text):
            m = _TOKEN.match(text, pos)
            if not m or m.end() == pos:
                if text[pos:].strip():
                    raise ValueError(
                        f"gremlin parse error at …{text[pos:pos + 20]!r}")
                break
            pos = m.end()
            for kind in ("num", "str", "name", "punct"):
                if m.group(kind) is not None:
                    self.toks.append((kind, m.group(kind)))
                    break
        self.i = 0

    def peek(self, k: int = 0):
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else ("eof", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind: str, value: str | None = None):
        k, v = self.next()
        if k != kind or (value is not None and v != value):
            raise ValueError(
                f"gremlin parse error: expected {value or kind}, got {v!r}")
        return v


def _literal(tok: tuple[str, str]) -> Any:
    kind, v = tok
    if kind == "num":
        return float(v) if "." in v else int(v)
    if kind == "str":
        body = v[1:-1]
        return body.replace("\\'", "'").replace('\\"', '"').replace(
            "\\\\", "\\")
    if kind == "name" and v in ("true", "false"):
        return v == "true"
    raise ValueError(f"gremlin parse error: expected literal, got {v!r}")


def _parse_args(ts: _Tokens) -> list[Any]:
    """args inside '(...)' — literals, predicates, anonymous traversals."""
    ts.expect("punct", "(")
    args: list[Any] = []
    while ts.peek() != ("punct", ")"):
        args.append(_parse_arg(ts))
        if ts.peek() == ("punct", ","):
            ts.next()
    ts.expect("punct", ")")
    return args


def _parse_arg(ts: _Tokens) -> Any:
    kind, v = ts.peek()
    if kind == "name" and v == "__":
        return _parse_anon(ts)
    if kind == "name" and v == "P" and ts.peek(1) == ("punct", "."):
        ts.next()
        ts.next()
        kind, v = ts.peek()
    if kind == "name" and v in _PREDS and ts.peek(1) == ("punct", "("):
        ts.next()
        vals = [_literal(t) for t in _parse_literal_list(ts)]
        if v == "inside":
            fn = P.inside(*vals)
        elif v in ("within", "without"):
            fn = getattr(P, v)(*vals)
        else:
            fn = getattr(P, v)(vals[0])
        fn._pred_info = (v, vals)  # lets where() re-read eq('a') as a tag
        return fn
    return _literal(ts.next())


def _parse_literal_list(ts: _Tokens) -> list[tuple[str, str]]:
    ts.expect("punct", "(")
    out = []
    while ts.peek() != ("punct", ")"):
        out.append(ts.next())
        if ts.peek() == ("punct", ","):
            ts.next()
    ts.expect("punct", ")")
    return out


def _parse_chain(ts: _Tokens) -> list[tuple[str, list]]:
    """('.' NAME '(' args ')')* — returns [(name, args), ...]."""
    steps = []
    while ts.peek() == ("punct", "."):
        ts.next()
        name = ts.expect("name")
        steps.append((name, _parse_args(ts)))
    return steps


class _Anon:
    """A parsed anonymous traversal (``__.out().simplePath()``): callable
    Traversal → Traversal, with the parsed step list kept for the repeat
    shape check."""

    def __init__(self, steps: list[tuple[str, list]]):
        self.steps = steps

    def __call__(self, t: Traversal):
        out: Any = t
        for name, args in self.steps:
            out = _apply_step(out, name, args)
        return out


def _parse_anon(ts: _Tokens) -> _Anon:
    ts.expect("name", "__")
    return _Anon(_parse_chain(ts))


def _apply_step(t: Any, name: str, args: list) -> Any:
    if isinstance(t, DataFrame):
        raise ValueError(
            f"step {name}() after a terminal step — chain must end there")
    # repeat(...).times(n) / .emit-less range sugar
    if name == "repeat":
        return ("__repeat__", t, args)
    if isinstance(t, tuple) and t[0] == "__repeat__":
        _, base, rargs = t
        if name != "times":
            raise ValueError("repeat(...) must be followed by .times(n)")
        sub = rargs[0] if rargs else None
        direction, simple = _repeat_shape(sub)
        return base.repeat_times(int(args[0]), direction=direction,
                                 simple=simple)
    if name == "select":
        if len(args) == 1 and isinstance(args[0], str):
            return t.select_tag(args[0])
        return t.select(*args)
    if name == "where" and args:
        a0 = args[0]
        if isinstance(a0, str):  # where('a') — head equals tag
            return t.where_tag("eq", a0)
        info = getattr(a0, "_pred_info", None)
        if info and len(info[1]) == 1 and isinstance(info[1][0], str):
            # where(eq('a')) — Gremlin compares head to the TAG, not the
            # string literal (supported_gremlin_steps.md:211-240)
            return t.where_tag(info[0], info[1][0])
        if isinstance(a0, _Anon):  # where(__.out()) ≡ filter(traversal)
            return t.filter_(a0)
    method = _RENAME.get(name, name)
    if not hasattr(t, method) or method.startswith("_"):
        raise ValueError(f"unsupported gremlin step: {name}()")
    return getattr(t, method)(*args)


def _repeat_shape(sub) -> tuple[str, bool]:
    """Inspect a parsed repeat body (:class:`_Anon`): its steps must be
    one expand step (out/in/both) optionally followed by simplePath()."""
    if not isinstance(sub, _Anon) or not sub.steps:
        raise ValueError("repeat() body must be an anonymous traversal "
                         "like __.out()")
    names = [n for n, _ in sub.steps]
    direction = {"out": "out", "in": "in", "both": "both"}.get(names[0])
    if direction is None:
        raise ValueError(f"repeat() body must start with out/in/both, "
                         f"got {names[0]}()")
    simple = "simplePath" in names[1:]
    extra = [n for n in names[1:] if n != "simplePath"]
    if extra:
        raise ValueError(f"unsupported steps in repeat() body: {extra}")
    return direction, simple


def eval_gremlin(
    text: str,
    graph: Graph,
    vertex_props: DataFrame | None = None,
):
    """Parse and run a Gremlin text query against ``graph``. Returns a
    DataFrame for terminal chains (count/groupCount/select/path/...), a
    :class:`Traversal` otherwise."""
    ts = _Tokens(text.strip())
    ts.expect("name", "g")
    ts.expect("punct", ".")
    src_name = ts.expect("name")
    if src_name not in ("V", "E"):
        raise ValueError("gremlin query must start with g.V() or g.E()")
    src_args = [_literal(t) for t in _parse_literal_list(ts)]
    if src_name == "E" and src_args:
        raise ValueError("g.E(<ids>) is not supported: edges have no ids "
                         "here, start from g.E()")
    g = traversal(graph, vertex_props)
    t: Any = g.V(*src_args) if src_name == "V" else g.E()
    for name, args in _parse_chain(ts):
        t = _apply_step(t, name, args)
    if isinstance(t, tuple):
        raise ValueError("dangling repeat(): missing .times(n)")
    return t

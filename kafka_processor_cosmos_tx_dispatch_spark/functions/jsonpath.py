"""JsonPath predicate engine — the reference's query language, Spark-first.

The reference's entire query surface is JsonPath 2.x predicates evaluated
against a JSON rendering of each record, with Jayway options
``AS_PATH_LIST`` + ``SUPPRESS_EXCEPTIONS``: a rule *matches* iff the path
resolves to a non-empty node list, and ANY evaluation error (including a
missed definite path like ``$.nop``) is swallowed and treated as a
non-match (/root/reference/src/main/kotlin/com/okp4/processor/cosmos/
TopologyProducer.kt:56-59, 216-223).

A rule runs in one of two tiers, chosen from the parse tree alone
(``struct_node_fn``, no Spark needed):

1. ``struct_node_fn(dtype, path)`` — when the record has a typed struct,
   compiles the JsonPath subset (child / index / wildcard / recursive
   descent / array filters with ``== != < <= > >= && ||`` and existence;
   a comparison only on a definite relative path) into a node function
   that builds a **native boolean Column** over it. Pure Catalyst
   expressions (``exists`` / higher-order functions) — whole-stage
   codegen, no Python in the hot path. Recursive descent is
   schema-directed: ``$..name`` is statically expanded over the struct
   schema into an OR of concrete accessors, so it costs exactly the
   fields it touches.
2. ``compile_predicate(path)`` — every other rule: the full grammar
   compiled to straight-line Python source (``predicate_source``), run on
   the decoded object inside the decode UDF or on parsed JSON in
   ``jsonpath_match_many_pandas_udf``. ``evaluate``/``match`` interpret
   the same grammar and are the reference the compiled form is tested
   against. Semantics identical: errors ⇒ non-match, and a comparison
   between kinds (a boolean against a number, a string against either)
   is a non-match, for which ``!=`` holds.

Grammar (the subset the reference exercises, rules_example.yaml:2-11):

    path     := '$' step*
    step     := '.' NAME | '..' NAME | '[' INT ']' | '[*]' | '.*'
              | "['" NAME "']" | '[?(' filter ')]'
    filter   := or ; or := and ('||' and)* ; and := atom ('&&' atom)*
    atom     := '(' or ')' | '!' atom | rel CMP literal | rel
    rel      := '@' ('.' NAME | '[' INT ']' | '[*]')*
    literal  := 'sq-string' | "dq-string" | number | true | false | null

NAME may contain '@' (protobuf-JSON uses ``@type`` as a field key).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import pyworker


class JsonPathError(ValueError):
    pass


# --------------------------------------------------------------------------
# AST
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Child:
    name: str


@dataclass(frozen=True)
class RecursiveChild:
    name: str


@dataclass(frozen=True)
class Index:
    i: int


@dataclass(frozen=True)
class Slice:
    start: int | None
    stop: int | None


@dataclass(frozen=True)
class Union:
    indices: tuple


@dataclass(frozen=True)
class Wildcard:
    pass


@dataclass(frozen=True)
class Filter:
    expr: "Or"


@dataclass(frozen=True)
class Or:
    terms: tuple


@dataclass(frozen=True)
class And:
    terms: tuple


@dataclass(frozen=True)
class Not:
    term: object


@dataclass(frozen=True)
class Cmp:
    rel: tuple  # steps from '@'
    op: str
    literal: object


@dataclass(frozen=True)
class Exists:
    rel: tuple


Step = object  # Child | RecursiveChild | Index | Wildcard | Filter

_NAME_END = set(".[]()<>=!&| \t'\"")


class _Parser:
    def __init__(self, text: str):
        self.text = text
        self.pos = 0

    # -- low-level helpers ---------------------------------------------------
    def peek(self, k: int = 1) -> str:
        return self.text[self.pos : self.pos + k]

    def eat(self, s: str) -> None:
        if not self.text.startswith(s, self.pos):
            raise JsonPathError(f"expected {s!r} at {self.pos} in {self.text!r}")
        self.pos += len(s)

    def skip_ws(self) -> None:
        while self.pos < len(self.text) and self.text[self.pos] in " \t":
            self.pos += 1

    def name(self) -> str:
        start = self.pos
        while self.pos < len(self.text) and self.text[self.pos] not in _NAME_END:
            self.pos += 1
        if self.pos == start:
            raise JsonPathError(f"expected name at {start} in {self.text!r}")
        return self.text[start : self.pos]

    # -- grammar --------------------------------------------------------------
    def parse_path(self) -> tuple:
        self.eat("$")
        steps = self.parse_steps()
        if self.pos != len(self.text):
            raise JsonPathError(f"trailing input at {self.pos} in {self.text!r}")
        return steps

    def parse_steps(self) -> tuple:
        steps: list = []
        while self.pos < len(self.text):
            c = self.peek()
            if c == ".":
                if self.peek(2) == "..":
                    self.eat("..")
                    steps.append(RecursiveChild(self.name()))
                else:
                    self.eat(".")
                    if self.peek() == "*":
                        self.eat("*")
                        steps.append(Wildcard())
                    else:
                        steps.append(Child(self.name()))
            elif c == "[":
                steps.append(self.parse_bracket())
            else:
                break
        return tuple(steps)

    def parse_bracket(self):
        self.eat("[")
        self.skip_ws()
        c = self.peek()
        if c == "*":
            self.eat("*")
            self.skip_ws()
            self.eat("]")
            return Wildcard()
        if c in "'\"":
            quoted = self.string_literal()
            self.skip_ws()
            self.eat("]")
            return Child(quoted)
        if c == "?":
            self.eat("?")
            self.skip_ws()
            self.eat("(")
            expr = self.parse_or()
            self.skip_ws()
            self.eat(")")
            self.skip_ws()
            self.eat("]")
            return Filter(expr)
        # integer index / slice / union (negative allowed)
        def maybe_int() -> int | None:
            s = self.pos
            if self.peek() == "-":
                self.pos += 1
            while self.pos < len(self.text) and self.text[self.pos].isdigit():
                self.pos += 1
            if self.pos == s:
                return None
            try:
                return int(self.text[s : self.pos])
            except ValueError as e:  # bare '-' as in '$[-]'
                raise JsonPathError(f"bad index at {s} in {self.text!r}") from e

        first = maybe_int()
        self.skip_ws()
        if self.peek() == ":":  # slice [s:e] — either bound optional
            self.eat(":")
            self.skip_ws()
            stop = maybe_int()
            self.skip_ws()
            self.eat("]")
            return Slice(first, stop)
        if first is None:
            raise JsonPathError(f"bad bracket at {self.pos} in {self.text!r}")
        if self.peek() == ",":  # union [i, j, ...]
            idxs = [first]
            while self.peek() == ",":
                self.eat(",")
                self.skip_ws()
                nxt = maybe_int()
                if nxt is None:
                    raise JsonPathError(
                        f"bad union index at {self.pos} in {self.text!r}"
                    )
                idxs.append(nxt)
                self.skip_ws()
            self.eat("]")
            return Union(tuple(idxs))
        self.eat("]")
        return Index(first)

    def string_literal(self) -> str:
        quote = self.peek()
        if quote not in "'\"":
            raise JsonPathError(f"expected string at {self.pos}")
        self.pos += 1
        out = []
        while self.pos < len(self.text):
            ch = self.text[self.pos]
            if ch == "\\" and self.pos + 1 < len(self.text):
                out.append(self.text[self.pos + 1])
                self.pos += 2
                continue
            if ch == quote:
                self.pos += 1
                return "".join(out)
            out.append(ch)
            self.pos += 1
        raise JsonPathError("unterminated string literal")

    def parse_or(self) -> Or:
        terms = [self.parse_and()]
        self.skip_ws()
        while self.peek(2) == "||":
            self.eat("||")
            terms.append(self.parse_and())
            self.skip_ws()
        return Or(tuple(terms))

    def parse_and(self) -> And:
        terms = [self.parse_atom()]
        self.skip_ws()
        while self.peek(2) == "&&":
            self.eat("&&")
            terms.append(self.parse_atom())
            self.skip_ws()
        return And(tuple(terms))

    def parse_atom(self):
        self.skip_ws()
        if self.peek() == "(":
            self.eat("(")
            expr = self.parse_or()
            self.skip_ws()
            self.eat(")")
            return expr
        if self.peek() == "!":
            self.eat("!")
            return Not(self.parse_atom())
        rel = self.parse_rel()
        self.skip_ws()
        for op in ("==", "!=", "<=", ">=", "<", ">"):
            if self.peek(len(op)) == op:
                self.eat(op)
                self.skip_ws()
                return Cmp(rel, op, self.parse_literal())
        if self.peek(2) == "=~":  # regex: @.f =~ /pattern/flags
            self.eat("=~")
            self.skip_ws()
            self.eat("/")
            s = self.pos
            while self.pos < len(self.text) and self.text[self.pos] != "/":
                if self.text[self.pos] == "\\":
                    self.pos += 1
                self.pos += 1
            pattern = self.text[s : self.pos]
            self.eat("/")
            flags = ""
            while self.peek() and self.peek() in "i":
                flags += self.peek()
                self.pos += 1
            return Cmp(rel, "=~", (pattern, flags))
        if self.peek(3) in ("in ", "in["):  # membership: @.f in ['a','b']
            self.eat("in")
            self.skip_ws()
            self.eat("[")
            items = []
            while True:
                self.skip_ws()
                items.append(self.parse_literal())
                self.skip_ws()
                if self.peek() == ",":
                    self.eat(",")
                    continue
                break
            self.eat("]")
            return Cmp(rel, "in", tuple(items))
        return Exists(rel)

    def parse_rel(self) -> tuple:
        self.eat("@")
        steps: list = []
        while self.pos < len(self.text):
            c = self.peek()
            if c == ".":
                self.eat(".")
                steps.append(Child(self.name()))
            elif c == "[":
                steps.append(self.parse_bracket())
            else:
                break
        return tuple(steps)

    def parse_literal(self):
        c = self.peek()
        if c in "'\"":
            return self.string_literal()
        for word, val in (("true", True), ("false", False), ("null", None)):
            if self.text.startswith(word, self.pos):
                self.pos += len(word)
                return val
        start = self.pos
        if self.peek() == "-":
            self.pos += 1
        while self.pos < len(self.text) and (
            self.text[self.pos].isdigit() or self.text[self.pos] == "."
        ):
            self.pos += 1
        if self.pos == start:
            raise JsonPathError(f"expected literal at {start} in {self.text!r}")
        tok = self.text[start : self.pos]
        try:
            return float(tok) if "." in tok else int(tok)
        except ValueError as e:  # malformed number like '1.2.3'
            raise JsonPathError(f"bad number {tok!r} in {self.text!r}") from e


def parse(path: str) -> tuple:
    """Parse a JsonPath string into a step tuple. Raises JsonPathError."""
    return _Parser(path.strip()).parse_path()


# --------------------------------------------------------------------------
# Python-tier reference: tree-walking evaluator (the oracle of the compiled form)
# --------------------------------------------------------------------------


def _eval_steps(nodes: list, steps: tuple) -> list:
    for step in steps:
        nodes = _eval_step(nodes, step)
        if not nodes:
            return []
    return nodes


def _descendants(node: Any):
    yield node
    if isinstance(node, dict):
        for v in node.values():
            yield from _descendants(v)
    elif isinstance(node, list):
        for v in node:
            yield from _descendants(v)


def _eval_step(nodes: list, step) -> list:
    out: list = []
    if isinstance(step, Child):
        for n in nodes:
            if isinstance(n, dict) and step.name in n:
                out.append(n[step.name])
    elif isinstance(step, RecursiveChild):
        for n in nodes:
            for d in _descendants(n):
                if isinstance(d, dict) and step.name in d:
                    out.append(d[step.name])
    elif isinstance(step, Index):
        for n in nodes:
            if isinstance(n, list):
                try:
                    out.append(n[step.i])
                except IndexError:
                    pass
    elif isinstance(step, Slice):
        for n in nodes:
            if isinstance(n, list):
                out.extend(n[step.start : step.stop])
    elif isinstance(step, Union):
        for n in nodes:
            if isinstance(n, list):
                for i in step.indices:
                    try:
                        out.append(n[i])
                    except IndexError:
                        pass
    elif isinstance(step, Wildcard):
        for n in nodes:
            if isinstance(n, list):
                out.extend(n)
            elif isinstance(n, dict):
                out.extend(n.values())
    elif isinstance(step, Filter):
        for n in nodes:
            items = n if isinstance(n, list) else [n]
            out.extend(e for e in items if _eval_filter(e, step.expr))
    else:  # pragma: no cover
        raise JsonPathError(f"unknown step {step!r}")
    return out


def _eval_filter(node: Any, expr) -> bool:
    if isinstance(expr, Or):
        return any(_eval_filter(node, t) for t in expr.terms)
    if isinstance(expr, And):
        return all(_eval_filter(node, t) for t in expr.terms)
    if isinstance(expr, Not):
        return not _eval_filter(node, expr.term)
    if isinstance(expr, Exists):
        return bool(_eval_steps([node], expr.rel))
    if isinstance(expr, Cmp):
        matches = _eval_steps([node], expr.rel)
        if not matches:
            return False
        value = matches[0]
        return _compare(value, expr.op, expr.literal)
    raise JsonPathError(f"unknown filter term {expr!r}")


def _same_kind(value: Any, literal: Any) -> bool:
    """A boolean compares only with a boolean and a number only with a
    number (Python's ``1 == True`` and ``True < 2`` do not carry over)."""
    if isinstance(value, bool) or isinstance(literal, bool):
        return isinstance(value, bool) and isinstance(literal, bool)
    num = (int, float)
    if isinstance(value, num) or isinstance(literal, num):
        return isinstance(value, num) and isinstance(literal, num)
    return True


def _compare(value: Any, op: str, literal: Any) -> bool:
    """``value <op> literal`` for an existing node: a mismatch in kind is
    a non-match, so ``!=`` holds for a value of another kind."""
    if op == "in":
        return any(_compare(value, "==", x) for x in literal)
    if op == "=~":
        import re

        if not isinstance(value, str):
            return False
        pattern, flags = literal
        f = re.IGNORECASE if "i" in flags else 0
        try:
            return re.fullmatch(pattern, value, f) is not None
        except re.error:
            return False
    if op == "!=":
        return not _compare(value, "==", literal)
    if not _same_kind(value, literal):
        return False
    if op == "==":
        return value == literal
    try:
        if op == "<":
            return value < literal
        if op == "<=":
            return value <= literal
        if op == ">":
            return value > literal
        if op == ">=":
            return value >= literal
    except TypeError:
        return False
    raise JsonPathError(f"unknown op {op}")


def evaluate(obj: Any, path: str | tuple) -> list:
    """Return the list of nodes the path resolves to (may raise)."""
    steps = parse(path) if isinstance(path, str) else path
    return _eval_steps([obj], steps)


# --------------------------------------------------------------------------
# Python tier: JsonPath → straight-line Python source
# --------------------------------------------------------------------------
#
# The tree-walking interpreter above stays the SEMANTIC ORACLE (tests
# fuzz the compiled form against it); the decode/dispatch hot path runs
# the code this compiler generates instead. Each step becomes a nested
# loop or test over local variables, so a record pays no per-step
# dispatch, no generator frames and no node lists: the first resolved
# node returns True. ``$..name`` is a stack walk over the document's
# containers; filters whose relative path is definite (child / index
# steps) are inlined into the loop that feeds them, other filter terms
# become one helper function each.


class _Source:
    """Lines, helper functions, fresh names and bound constants of one
    compiled predicate."""

    def __init__(self):
        self.lines: list[str] = []
        self.helpers: list[str] = []
        self.consts: dict[str, Any] = {"_cmp": _compare}
        self.n = 0

    def name(self, prefix: str) -> str:
        self.n += 1
        return f"{prefix}{self.n}"

    def const(self, value) -> str:
        name = self.name("c")
        self.consts[name] = value
        return name

    def emit(self, ind: int, line: str) -> None:
        self.lines.append("    " * ind + line)


def _cmp_expr(src: _Source, v: str, op: str, literal) -> str:
    """Python expression for ``v <op> literal`` with _compare's meaning."""
    if op == "in":
        return "(" + " or ".join(_cmp_expr(src, v, "==", x) for x in literal) + ")"
    if op == "!=":
        return f"not {_cmp_expr(src, v, '==', literal)}"
    if op == "==":
        if isinstance(literal, str):
            return f"{v} == {literal!r}"
        if isinstance(literal, (int, float)) and not isinstance(literal, bool):
            return f"({v} == {literal!r} and not isinstance({v}, bool))"
        return f"_cmp({v}, '==', {src.const(literal)})"
    if op == "=~":
        import re

        pattern, flags = literal
        try:
            rx = re.compile(pattern, re.IGNORECASE if "i" in flags else 0)
        except re.error:
            return "False"
        return f"(isinstance({v}, str) and {src.const(rx)}.fullmatch({v}) is not None)"
    if op in ("<", "<=", ">", ">="):
        return f"_cmp({v}, {op!r}, {src.const(literal)})"
    raise JsonPathError(f"unknown op {op}")


def _definite(rel: tuple) -> bool:
    return all(isinstance(s, (Child, Index)) for s in rel)


def _emit_steps(src: _Source, steps: tuple, node: str, ind: int, leaf) -> None:
    """Code that walks ``steps`` from the node in variable ``node`` and
    runs ``leaf(var, ind)`` at every resolved node, in the interpreter's
    node order."""
    if not steps:
        leaf(node, ind)
        return
    step, rest = steps[0], steps[1:]
    out = src.name("n")
    if isinstance(step, Child):
        src.emit(ind, f"if isinstance({node}, dict) and {step.name!r} in {node}:")
        src.emit(ind + 1, f"{out} = {node}[{step.name!r}]")
        _emit_steps(src, rest, out, ind + 1, leaf)
    elif isinstance(step, Index):
        bound = f"len({node}) > {step.i}" if step.i >= 0 else f"len({node}) >= {-step.i}"
        src.emit(ind, f"if isinstance({node}, list) and {bound}:")
        src.emit(ind + 1, f"{out} = {node}[{step.i}]")
        _emit_steps(src, rest, out, ind + 1, leaf)
    elif isinstance(step, Slice):
        src.emit(ind, f"if isinstance({node}, list):")
        src.emit(ind + 1, f"for {out} in {node}[{step.start!r}:{step.stop!r}]:")
        _emit_steps(src, rest, out, ind + 2, leaf)
    elif isinstance(step, Union):
        i = src.name("i")
        src.emit(ind, f"if isinstance({node}, list):")
        src.emit(ind + 1, f"for {i} in {step.indices!r}:")
        src.emit(ind + 2, f"if -len({node}) <= {i} < len({node}):")
        src.emit(ind + 3, f"{out} = {node}[{i}]")
        _emit_steps(src, rest, out, ind + 3, leaf)
    elif isinstance(step, Wildcard):
        it = src.name("it")
        src.emit(ind, f"if isinstance({node}, list): {it} = {node}")
        src.emit(ind, f"elif isinstance({node}, dict): {it} = {node}.values()")
        src.emit(ind, f"else: {it} = ()")
        src.emit(ind, f"for {out} in {it}:")
        _emit_steps(src, rest, out, ind + 1, leaf)
    elif isinstance(step, RecursiveChild):
        # every descendant of the node, itself included; a match anywhere
        # returns, so the walk's order does not matter (``..`` never
        # appears inside a filter, where the first node decides)
        stack, d = src.name("st"), src.name("d")
        src.emit(ind, f"{stack} = [{node}]")
        src.emit(ind, f"while {stack}:")
        src.emit(ind + 1, f"{d} = {stack}.pop()")
        src.emit(ind + 1, f"if isinstance({d}, dict):")
        src.emit(ind + 2, f"if {step.name!r} in {d}:")
        src.emit(ind + 3, f"{out} = {d}[{step.name!r}]")
        _emit_steps(src, rest, out, ind + 3, leaf)
        src.emit(ind + 2, f"{stack}.extend({d}.values())")
        src.emit(ind + 1, f"elif isinstance({d}, list):")
        src.emit(ind + 2, f"{stack}.extend({d})")
    elif isinstance(step, Filter):
        src.emit(ind, f"for {out} in ({node} if isinstance({node}, list) else ({node},)):")
        _emit_filter(src, step.expr, out, ind + 1, lambda i: _emit_steps(src, rest, out, i, leaf))
    else:  # pragma: no cover
        raise JsonPathError(f"unknown step {step!r}")


def _term(expr) -> object | None:
    """The single Cmp/Exists an Or-of-And wrapper holds, if that is all."""
    while isinstance(expr, (Or, And)) and len(expr.terms) == 1:
        expr = expr.terms[0]
    return expr if isinstance(expr, (Cmp, Exists)) else None


def _emit_filter(src: _Source, expr, node: str, ind: int, body) -> None:
    """Run ``body(ind)`` when the filter holds for ``node``."""
    term = _term(expr)
    if term is not None and _definite(term.rel):
        # at most one node: inline its lookup, and the test on it
        def leaf(v, i):
            if isinstance(term, Cmp):
                src.emit(i, f"if {_cmp_expr(src, v, term.op, term.literal)}:")
                i += 1
            body(i)

        _emit_steps(src, term.rel, node, ind, leaf)
        return
    src.emit(ind, f"if {_filter_expr(src, expr, node)}:")
    body(ind + 1)


def _filter_expr(src: _Source, expr, node: str) -> str:
    if isinstance(expr, Or):
        return "(" + " or ".join(_filter_expr(src, t, node) for t in expr.terms) + ")"
    if isinstance(expr, And):
        return "(" + " and ".join(_filter_expr(src, t, node) for t in expr.terms) + ")"
    if isinstance(expr, Not):
        return f"(not {_filter_expr(src, expr.term, node)})"
    if isinstance(expr, (Exists, Cmp)):
        # a helper function: the first node the relative path reaches decides
        fn = src.name("t")
        outer, src.lines = src.lines, [f"def {fn}(n0):"]

        def leaf(v, i):
            test = _cmp_expr(src, v, expr.op, expr.literal) if isinstance(expr, Cmp) else "True"
            src.emit(i, f"return {test}")

        _emit_steps(src, expr.rel, "n0", 1, leaf)
        src.emit(1, "return False")
        src.helpers += src.lines
        src.lines = outer
        return f"{fn}({node})"
    raise JsonPathError(f"unknown filter term {expr!r}")


def predicate_source(path: str | tuple) -> tuple[str, dict]:
    """The Python source of ``pred(obj) -> bool`` for ``path`` and the
    constants it refers to. Evaluation errors make the predicate False."""
    steps = parse(path) if isinstance(path, str) else path
    src = _Source()
    _emit_steps(src, steps, "obj", 2, lambda v, i: src.emit(i, "return True"))
    text = src.helpers + ["def pred(obj):", "    try:"] + src.lines
    text += ["    except Exception:", "        return False", "    return False"]
    return "\n".join(text) + "\n", src.consts


def compile_predicate(path: str | tuple):
    """path -> fn(parsed_json_obj) -> bool (non-empty-match semantics,
    per-record errors ⇒ False — TopologyProducer.kt:216-223). Parse/
    compile errors still raise, like parse(); only evaluation is
    error-absorbing."""
    text, ns = predicate_source(path)
    exec(compile(text, f"<jsonpath {path!r}>", "exec"), ns)
    return ns["pred"]


def match(json_text: str | None, path: str | tuple) -> bool:
    """Reference semantics: non-empty node list ⇒ True; ANY error ⇒ False.

    (≅ TopologyProducer.kt:216-223 — runCatching + SUPPRESS_EXCEPTIONS.)
    """
    import json

    if json_text is None:
        return False
    try:
        return bool(evaluate(json.loads(json_text), path))
    except Exception:
        return False


def jsonpath_match_many_pandas_udf(paths: list[str]):
    """One Arrow-batched pass for a whole Python-tier rule bank: the JSON
    text is json.loads'd ONCE per record and every predicate evaluates
    against the same parsed object, returning array<boolean> in rule
    order. With N Python-tier rules the per-rule UDF costs N parses per
    record (the parse dominates evaluation on real transactions);
    fusing them makes the Python matching cost parse + N cheap walks,
    and collapses N UDF columns into one Arrow transfer. Per-rule error
    semantics are unchanged: an evaluation error yields False for THAT
    rule only; unparseable JSON yields all-False (reference parity,
    TopologyProducer.kt:216-223)."""
    import json

    preds = [compile_predicate(p) for p in paths]
    n = len(preds)

    @F.pandas_udf(T.ArrayType(T.BooleanType()))
    def _match_many(s: pd.Series) -> pd.Series:
        pyworker.prepare()

        def row(txt):
            if txt is None:
                return [False] * n
            try:
                obj = json.loads(txt)
            except Exception:
                return [False] * n
            return [p(obj) for p in preds]

        return s.map(row)

    return _match_many


# --------------------------------------------------------------------------
# Native tier: Column compiler over a typed struct column
# --------------------------------------------------------------------------
#
# ``_exists_fn`` is the one walker of a path over the struct schema. It
# returns a node function (node Column -> boolean Column), ``lambda c:
# F.lit(False)`` when the schema proves the path can never resolve (a
# definite miss is a non-match, TopologyProducer.kt:221-223), or None for
# a construct this tier does not compile (the rule runs in Python). At
# the end of the path it calls ``leaf(column, dtype)``: existence for a
# rule or an ``Exists`` filter term, the comparison for a ``Cmp`` term.

NodeFn = Callable[[Column], Column]  # node column -> boolean Column
Leaf = Callable[[Column, T.DataType], Column]


def _field_type(dtype: T.DataType, name: str) -> T.DataType | None:
    if isinstance(dtype, T.StructType):
        for f in dtype.fields:
            if f.name == name:
                return f.dataType
    return None


def _literal_fits(dtype: T.DataType, literal) -> bool:
    """A literal can equal a value of ``dtype``: a string only a string,
    a boolean only a boolean, a number only a number (as _same_kind)."""
    if isinstance(literal, bool):
        return isinstance(dtype, T.BooleanType)
    if isinstance(literal, (int, float)):
        return isinstance(dtype, T.NumericType)
    if isinstance(literal, str):
        return isinstance(dtype, T.StringType)
    return False  # null: a null struct field is an absent one


def _cmp_column(node: Column, dtype: T.DataType, op: str, literal) -> Column:
    """Comparison with _compare's meaning: a literal of another kind than
    the column's never matches, and ``!=`` then holds where the value
    exists."""
    if op == "in":
        fits = [x for x in literal if _literal_fits(dtype, x)]
        return node.isin(*fits) if fits else F.lit(False)
    if op == "=~":
        if not isinstance(dtype, T.StringType):
            return F.lit(False)
        pattern, flags = literal
        prefix = "(?i)" if "i" in flags else ""
        # Jayway's =~ is Matcher.matches() — a FULL match; rlike searches,
        # so anchor explicitly. Spark rlike is Java regex, same dialect.
        return node.rlike(rf"{prefix}\A(?:{pattern})\Z")
    if not _literal_fits(dtype, literal):
        return node.isNotNull() if op == "!=" else F.lit(False)
    lit = F.lit(literal)
    return {
        "==": node == lit,
        "!=": node != lit,
        "<": node < lit,
        "<=": node <= lit,
        ">": node > lit,
        ">=": node >= lit,
    }[op]


def _filter_fn(dtype: T.DataType, expr) -> NodeFn | None:
    """Compile a filter expression to node-col -> boolean Column."""
    if isinstance(expr, Or):
        fns = [_filter_fn(dtype, t) for t in expr.terms]
        if any(f is None for f in fns):
            return None
        return lambda c: _reduce_or([f(c) for f in fns])
    if isinstance(expr, And):
        fns = [_filter_fn(dtype, t) for t in expr.terms]
        if any(f is None for f in fns):
            return None
        return lambda c: _reduce_and([f(c) for f in fns])
    if isinstance(expr, Not):
        f = _filter_fn(dtype, expr.term)
        if f is None:
            return None
        return lambda c: ~F.coalesce(f(c), F.lit(False))
    if isinstance(expr, Exists):
        return _exists_fn(dtype, expr.rel)
    if isinstance(expr, Cmp):
        if not _definite(expr.rel):
            return None  # the first node decides: Python keeps that order
        return _exists_fn(
            dtype, expr.rel, lambda c, dt: _cmp_column(c, dt, expr.op, expr.literal)
        )
    return None


def _reduce_or(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out | c
    return out


def _reduce_and(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out & c
    return out


def _exists(c: Column, dt: T.DataType) -> Column:
    return c.isNotNull()


def _exists_fn(dtype: T.DataType, steps: tuple, leaf: Leaf = _exists) -> NodeFn | None:
    """Compile steps to a fn: node Column -> boolean 'some node the steps
    reach satisfies ``leaf``'."""
    if not steps:
        return lambda c: leaf(c, dtype)
    step, rest = steps[0], steps[1:]

    if isinstance(step, Child):
        ft = _field_type(dtype, step.name)
        if ft is None:
            return lambda c: F.lit(False)  # definite miss ⇒ non-match
        f = _exists_fn(ft, rest, leaf)
        if f is None:
            return None
        return lambda c: F.coalesce(f(c.getField(step.name)), F.lit(False))

    if isinstance(step, Index):
        if not isinstance(dtype, T.ArrayType):
            return lambda c: F.lit(False)
        f = _exists_fn(dtype.elementType, rest, leaf)
        if f is None:
            return None
        # try_element_at is 1-based; JsonPath [i] is 0-based, [-1] is
        # last. MUST be the try_ variant: plain element_at THROWS on an
        # out-of-bounds index under ANSI semantics, but reference
        # semantics treat any evaluation error as a non-match
        # (TopologyProducer.kt:221-223) — null propagates to False.
        pos = step.i + 1 if step.i >= 0 else step.i
        return lambda c: F.coalesce(
            f(F.try_element_at(c, F.lit(pos))), F.lit(False)
        )

    if isinstance(step, Union):
        if not isinstance(dtype, T.ArrayType):
            return lambda c: F.lit(False)
        f = _exists_fn(dtype.elementType, rest, leaf)
        if f is None:
            return None
        positions = [i + 1 if i >= 0 else i for i in step.indices]
        return lambda c: F.coalesce(
            _reduce_or(
                [
                    F.coalesce(f(F.try_element_at(c, F.lit(p))), F.lit(False))
                    for p in positions
                ]
            ),
            F.lit(False),
        )

    if isinstance(step, Slice):
        if not isinstance(dtype, T.ArrayType):
            return lambda c: F.lit(False)
        # non-negative bounds compile natively; negative bounds (python
        # wrap-around) fall back to the UDF tier
        s = step.start or 0
        if s < 0 or (step.stop is not None and step.stop < 0):
            return None
        f = _exists_fn(dtype.elementType, rest, leaf)
        if f is None:
            return None

        def sliced(c: Column) -> Column:
            length = (
                F.lit(step.stop - s)
                if step.stop is not None
                else F.greatest(F.size(c) - F.lit(s), F.lit(0))
            )
            return F.slice(c, F.lit(s + 1), length)

        if step.stop is not None and step.stop - s <= 0:
            return lambda c: F.lit(False)
        return lambda c: F.coalesce(
            F.exists(sliced(c), lambda e: F.coalesce(f(e), F.lit(False))),
            F.lit(False),
        )

    if isinstance(step, Wildcard):
        if isinstance(dtype, T.ArrayType):
            f = _exists_fn(dtype.elementType, rest, leaf)
            if f is None:
                return None
            return lambda c: F.coalesce(
                F.exists(c, lambda e: F.coalesce(f(e), F.lit(False))), F.lit(False)
            )
        if isinstance(dtype, T.StructType):
            fns = []
            for fld in dtype.fields:
                f = _exists_fn(fld.dataType, rest, leaf)
                if f is None:
                    return None
                fns.append((fld.name, f))
            return lambda c: F.coalesce(
                _reduce_or([F.coalesce(f(c.getField(n)), F.lit(False)) for n, f in fns]),
                F.lit(False),
            )
        return lambda c: F.lit(False)

    if isinstance(step, Filter):
        if isinstance(dtype, T.ArrayType):
            pred = _filter_fn(dtype.elementType, step.expr)
            f = _exists_fn(dtype.elementType, rest, leaf)
            if pred is None or f is None:
                return None
            return lambda c: F.coalesce(
                F.exists(
                    c,
                    lambda e: F.coalesce(pred(e), F.lit(False))
                    & F.coalesce(f(e), F.lit(False)),
                ),
                F.lit(False),
            )
        # filter applied to a single object: the object passes or not
        pred = _filter_fn(dtype, step.expr)
        f = _exists_fn(dtype, rest, leaf)
        if pred is None or f is None:
            return None
        return lambda c: F.coalesce(pred(c) & f(c), F.lit(False))

    if isinstance(step, RecursiveChild):
        # Schema-directed expansion: find every position in the (finite)
        # schema tree whose field name matches, apply the rest there.
        fns = _recursive_fns(dtype, step.name, rest, leaf)
        if fns is None:
            return None
        if not fns:
            return lambda c: F.lit(False)
        return lambda c: F.coalesce(
            _reduce_or([F.coalesce(f(c), F.lit(False)) for f in fns]), F.lit(False)
        )

    return None  # pragma: no cover


def _recursive_fns(
    dtype: T.DataType, name: str, rest: tuple, leaf: Leaf
) -> list[NodeFn] | None:
    """All match-functions for '..name' descendants under dtype."""
    fns: list[NodeFn] = []
    if isinstance(dtype, T.StructType):
        for fld in dtype.fields:
            if fld.name == name:
                f = _exists_fn(fld.dataType, rest, leaf)
                if f is None:
                    return None
                fns.append(
                    (lambda fname, ff: lambda c: ff(c.getField(fname)))(fld.name, f)
                )
            sub = _recursive_fns(fld.dataType, name, rest, leaf)
            if sub is None:
                return None
            fns.extend(
                (lambda fname, sf: lambda c: sf(c.getField(fname)))(fld.name, s)
                for s in sub
            )
    elif isinstance(dtype, T.ArrayType):
        sub = _recursive_fns(dtype.elementType, name, rest, leaf)
        if sub is None:
            return None
        fns.extend(
            (
                lambda sf: lambda c: F.exists(
                    c, lambda e: F.coalesce(sf(e), F.lit(False))
                )
            )(s)
            for s in sub
        )
    return fns


def struct_node_fn(dtype: T.DataType | None, path: str | tuple) -> NodeFn | None:
    """The native form of ``path`` over a struct of type ``dtype``: a node
    function, or None when the path needs the Python tier (always when
    there is no struct type). Builds no Column, so it needs no
    SparkContext. Raises JsonPathError like ``parse``."""
    steps = parse(path) if isinstance(path, str) else path
    return None if dtype is None else _exists_fn(dtype, steps)


def compile_struct_predicate(
    col: Column, dtype: T.DataType, path: str | tuple
) -> Column | None:
    """Compile a JsonPath to a native boolean Column over a struct column.

    Returns None when the path uses constructs outside the compilable
    subset (the rule runs in the Python tier). A path that is in the
    subset but cannot match the schema (e.g. ``$.nop``) compiles to
    ``lit(False)`` — the reference treats missed definite paths as
    non-matches (TopologyProducer.kt:221-223).
    """
    f = struct_node_fn(dtype, path)
    return None if f is None else F.coalesce(f(col), F.lit(False))


# --------------------------------------------------------------------------
# Definite paths over untyped JSON strings (not planned by dispatch)
# --------------------------------------------------------------------------


def _definite_get_json_path(steps: tuple) -> str | None:
    """Render child/index-only steps as a get_json_object path string."""
    parts = ["$"]
    for s in steps:
        if isinstance(s, Child):
            if not s.name or any(c in s.name for c in ".[]$'\"*@"):
                return None
            parts.append("." + s.name)
        elif isinstance(s, Index):
            if s.i < 0:
                return None
            parts.append(f"[{s.i}]")
        else:
            return None
    return "".join(parts)


def compile_json_string_predicate(col: Column, path: str | tuple) -> Column | None:
    """Definite path over a JSON string → get_json_object IS NOT NULL.

    KNOWN DIVERGENCE (deliberate, pinned in tests/test_jsonpath.py):
    ``get_json_object`` returns SQL NULL for both a MISSING key and a key
    explicitly set to JSON ``null``, so ``{"a": null}`` + ``$.a`` is a
    non-match here while Jayway (and the Python evaluator) match
    the path. Dispatch does not use this function: its rules run natively
    over a typed struct or in the Python evaluator
    (``jsonpath_match_many_pandas_udf``), which matches null-valued keys
    like Jayway.
    """
    steps = parse(path) if isinstance(path, str) else path
    gpath = _definite_get_json_path(steps)
    if gpath is None:
        return None
    return F.get_json_object(col, gpath).isNotNull()

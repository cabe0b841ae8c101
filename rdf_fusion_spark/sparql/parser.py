"""SPARQL 1.1 query parser: tokenizer + recursive descent → algebra.

The reference delegates parsing to the external `spargebra` crate
(lib/execution/src/sparql/algebra.rs). No equivalent Python package is
available in this environment, so this is a from-scratch implementation of
the SPARQL 1.1 Query grammar (https://www.w3.org/TR/sparql11-query/#grammar)
with the standard algebra translation (spec §18.2): group graph patterns
fold into Join/LeftJoin/Filter/Extend/Minus/Union; SELECT clauses fold into
Group/Extend/OrderBy/Project/Distinct/Slice.

Scope exceeds the reference engine (SURVEY.md §2.9): full UPDATE and
SERVICE (federated query) are parsed here; no SPARQL-star (the reference
#[ignore]s it too).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Optional

from ..terms import (
    RDF_NS,
    XSD_BOOLEAN,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_INTEGER,
    XSD_STRING,
    Literal,
    NamedNode,
    Variable,
)
from . import algebra as A

RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"


class SparqlSyntaxError(Exception):
    pass


# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

@dataclass
class Tok:
    kind: str
    value: str
    pos: int


_TOKEN_RES = [
    ("WS", r"[ \t\r\n]+"),
    ("COMMENT", r"#[^\n]*"),
    ("IRIREF", r"<[^<>\"{}|^`\\\x00-\x20]*>"),
    ("DOUBLE", r"(?:\d+\.\d*|\.\d+|\d+)[eE][+-]?\d+"),
    ("DECIMAL", r"\d*\.\d+"),
    ("INTEGER", r"\d+"),
    ("STRING_LONG", r'"""(?:[^"\\]|\\.|"(?!""))*"""' + "|" + r"'''(?:[^'\\]|\\.|'(?!''))*'''"),
    ("STRING", r'"(?:[^"\\\n]|\\.)*"' + "|" + r"'(?:[^'\\\n]|\\.)*'"),
    # VARNAME allows a leading digit (grammar: (PN_CHARS_U | [0-9])+...),
    # e.g. ?1 in the oxigraph service-error tests
    ("VAR", r"[?$][A-Za-z_0-9À-￿][A-Za-z_0-9À-￿]*"),
    ("LANGTAG", r"@[a-zA-Z]+(?:-[a-zA-Z0-9]+)*"),
    ("BNODE", r"_:[A-Za-z_0-9À-￿][A-Za-z_0-9.À-￿-]*"),
    # prefixed name: prefix part + ':' + optional local part
    ("PNAME", r"[A-Za-z_À-￿][A-Za-z_0-9.À-￿-]*?:[A-Za-z_0-9À-￿%](?:[A-Za-z_0-9.À-￿%-]*[A-Za-z_0-9À-￿%-])?|[A-Za-z_À-￿][A-Za-z_0-9.À-￿-]*?:|:[A-Za-z_0-9À-￿%](?:[A-Za-z_0-9.À-￿%-]*[A-Za-z_0-9À-￿%-])?|:",),
    ("KEYWORD_OR_NAME", r"[A-Za-z_][A-Za-z_0-9]*"),
    ("OP", r"\^\^|&&|\|\||!=|<=|>=|[{}()\[\],;.=<>+\-*/!|^?@]"),
]

_MASTER_RE = re.compile("|".join(f"(?P<{k}>{p})" for k, p in
                                 ((k, p if isinstance(p, str) else p[0])
                                  for k, p in _TOKEN_RES)))


def tokenize(text: str) -> list[Tok]:
    out: list[Tok] = []
    i, n = 0, len(text)
    while i < n:
        m = _MASTER_RE.match(text, i)
        if not m:
            raise SparqlSyntaxError(f"lex error at {i}: {text[i:i+30]!r}")
        kind = m.lastgroup
        val = m.group()
        if kind not in ("WS", "COMMENT"):
            out.append(Tok(kind, val, i))
        i = m.end()
    out.append(Tok("EOF", "", n))
    return out


_STR_ESCAPES = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


def _unescape(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            nxt = s[i + 1]
            if nxt in _STR_ESCAPES:
                out.append(_STR_ESCAPES[nxt])
                i += 2
                continue
            if nxt == "u" and i + 6 <= len(s):
                out.append(chr(int(s[i + 2:i + 6], 16)))
                i += 6
                continue
            if nxt == "U" and i + 10 <= len(s):
                out.append(chr(int(s[i + 2:i + 10], 16)))
                i += 10
                continue
        out.append(c)
        i += 1
    return "".join(out)


# keywords recognized case-insensitively
_KEYWORDS = {
    "SELECT", "DISTINCT", "REDUCED", "WHERE", "FILTER", "OPTIONAL", "UNION",
    "MINUS", "GRAPH", "SERVICE", "BIND", "AS", "VALUES", "UNDEF", "GROUP",
    "BY", "HAVING", "ORDER", "ASC", "DESC", "LIMIT", "OFFSET", "ASK",
    "CONSTRUCT", "DESCRIBE", "FROM", "NAMED", "PREFIX", "BASE", "IN", "NOT",
    "EXISTS", "TRUE", "FALSE", "A", "SILENT", "LATERAL",
}

_BUILTIN_FNS = {
    "STR", "LANG", "LANGMATCHES", "DATATYPE", "BOUND", "IRI", "URI", "BNODE",
    "RAND", "ABS", "CEIL", "FLOOR", "ROUND", "CONCAT", "STRLEN", "UCASE",
    "LCASE", "ENCODE_FOR_URI", "CONTAINS", "STRSTARTS", "STRENDS",
    "STRBEFORE", "STRAFTER", "YEAR", "MONTH", "DAY", "HOURS", "MINUTES",
    "SECONDS", "TIMEZONE", "TZ", "NOW", "UUID", "STRUUID", "MD5", "SHA1",
    "SHA256", "SHA384", "SHA512", "COALESCE", "IF", "STRLANG", "STRDT",
    "SAMETERM", "ISIRI", "ISURI", "ISBLANK", "ISLITERAL", "ISNUMERIC",
    "REGEX", "SUBSTR", "REPLACE",
}

_AGGREGATES = {"COUNT", "SUM", "MIN", "MAX", "AVG", "SAMPLE", "GROUP_CONCAT"}


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------

def _contains_agg(e) -> bool:
    """True if the expression tree contains an aggregate call. Does not
    descend into EXISTS patterns — aggregates inside a nested subquery
    are scoped there and legal."""
    if isinstance(e, A.AggCall):
        return True
    if isinstance(e, A.ECall):
        return any(_contains_agg(x) for x in e.args)
    return False


class Parser:
    def __init__(self, text: str):
        self.text = text
        self.toks = tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base: Optional[str] = None
        self._bnode_n = 0
        self._anon_n = 0
        # blank-node label scoping (spec §19.6): a label may appear in only
        # ONE basic graph pattern of the query. Each TriplesBlock inside a
        # group is its own scope; label -> scope id of first use.
        self._bnode_block = 0
        self._bnode_scopes: dict[str, int] = {}

    # --- token helpers ---

    def peek(self, k: int = 0) -> Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def at_kw(self, *kws: str) -> bool:
        t = self.peek()
        return t.kind == "KEYWORD_OR_NAME" and t.value.upper() in kws

    def eat_kw(self, kw: str) -> bool:
        if self.at_kw(kw):
            self.next()
            return True
        return False

    def expect_kw(self, kw: str):
        if not self.eat_kw(kw):
            raise SparqlSyntaxError(
                f"expected {kw}, got {self.peek().value!r} at {self.peek().pos}")

    def at_op(self, op: str) -> bool:
        t = self.peek()
        return t.kind == "OP" and t.value == op

    def eat_op(self, op: str) -> bool:
        if self.at_op(op):
            self.next()
            return True
        return False

    def expect_op(self, op: str):
        if not self.eat_op(op):
            raise SparqlSyntaxError(
                f"expected {op!r}, got {self.peek().value!r} at {self.peek().pos}")

    def fresh_bnode_var(self, label: Optional[str] = None) -> Variable:
        if label is not None:
            return Variable(f"__bn_{label}")
        self._anon_n += 1
        return Variable(f"__anon_{self._anon_n}")

    def _nonneg_int(self, kw: str) -> int:
        t = self.next()
        try:
            n = int(t.value)
        except ValueError:
            raise SparqlSyntaxError(
                f"{kw} requires a non-negative integer, got {t.value!r}")
        if n < 0:
            raise SparqlSyntaxError(f"{kw} must be non-negative, got {n}")
        return n

    def _check_bnode_scope(self, triples: list) -> None:
        """One TriplesBlock = one blank-node scope (spec §19.6 + the
        syn-blabel-cross-* negative syntax tests): a `_:label` appearing
        in two different blocks — across FILTER, OPTIONAL, UNION branches,
        GRAPH, or nested groups — is a syntax error."""
        labels = set()
        for item in triples:
            for part in (getattr(item, "subject", None),
                         getattr(item, "predicate", None),
                         getattr(item, "object", None)):
                if isinstance(part, Variable) and part.name.startswith("__bn_"):
                    labels.add(part.name[len("__bn_"):])
        for lb in labels:
            prev = self._bnode_scopes.get(lb)
            if prev is not None and prev != self._bnode_block:
                raise SparqlSyntaxError(
                    f"blank node label _:{lb} used in more than one "
                    "basic graph pattern")
            self._bnode_scopes[lb] = self._bnode_block
        self._bnode_block += 1

    # --- terms ---

    def _resolve_iri(self, raw: str) -> str:
        iri = raw[1:-1]
        if self.base and not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", iri):
            return self.base + iri
        return iri

    def _resolve_pname(self, val: str) -> NamedNode:
        if ":" not in val:
            raise SparqlSyntaxError(f"bad pname {val!r}")
        pfx, local = val.split(":", 1)
        if pfx not in self.prefixes:
            raise SparqlSyntaxError(f"unknown prefix {pfx!r}:")
        return NamedNode(self.prefixes[pfx] + local.replace("\\", ""))

    def parse_iri(self) -> NamedNode:
        t = self.peek()
        if t.kind == "IRIREF":
            self.next()
            return NamedNode(self._resolve_iri(t.value))
        if t.kind == "PNAME":
            self.next()
            return self._resolve_pname(t.value)
        raise SparqlSyntaxError(f"expected IRI at {t.pos}: {t.value!r}")

    def parse_var(self) -> Variable:
        t = self.next()
        if t.kind != "VAR":
            raise SparqlSyntaxError(f"expected variable, got {t.value!r}")
        return Variable(t.value[1:])

    def _string_token(self) -> str:
        t = self.next()
        if t.kind == "STRING_LONG":
            return _unescape(t.value[3:-3])
        if t.kind == "STRING":
            return _unescape(t.value[1:-1])
        raise SparqlSyntaxError(f"expected string at {t.pos}")

    def parse_literal(self) -> Literal:
        s = self._string_token()
        t = self.peek()
        if t.kind == "LANGTAG":
            self.next()
            return Literal(s, language=t.value[1:])
        if t.kind == "OP" and t.value == "^^":
            self.next()
            dt = self.parse_iri()
            return Literal(s, dt.iri)
        return Literal(s, XSD_STRING)

    def parse_numeric(self, negative: bool = False) -> Literal:
        t = self.next()
        sign = "-" if negative else ""
        if t.kind == "INTEGER":
            return Literal(sign + t.value, XSD_INTEGER)
        if t.kind == "DECIMAL":
            return Literal(sign + t.value, XSD_DECIMAL)
        if t.kind == "DOUBLE":
            return Literal(sign + t.value, XSD_DOUBLE)
        raise SparqlSyntaxError(f"expected number at {t.pos}")

    # ------------------------------------------------------------------
    # entry
    # ------------------------------------------------------------------

    def parse_query(self) -> A.Query:
        self._prologue()
        if self.at_kw("SELECT"):
            q = self._select_query(top=True)
        elif self.at_kw("ASK"):
            q = self._ask_query()
        elif self.at_kw("CONSTRUCT"):
            q = self._construct_query()
        elif self.at_kw("DESCRIBE"):
            q = self._describe_query()
        else:
            raise SparqlSyntaxError(f"expected query form at {self.peek().pos}")
        # trailing VALUES
        if self.at_kw("VALUES"):
            vals = self._inline_data()
            q.pattern = A.Join(q.pattern, vals) if q.pattern else vals
        if self.peek().kind != "EOF":
            raise SparqlSyntaxError(
                f"unexpected trailing input at {self.peek().pos}: {self.peek().value!r}")
        return q

    # ------------------------------------------------------------------
    # SPARQL 1.1 Update (reference surface: store.rs:409-475 update())
    # ------------------------------------------------------------------

    def parse_update(self) -> list:
        ops: list = []
        while True:
            self._prologue()
            if self.peek().kind == "EOF":
                break
            ops.append(self._update_op())
            if not self.eat_op(";"):
                break
        if self.peek().kind != "EOF":
            raise SparqlSyntaxError(
                f"unexpected trailing input at {self.peek().pos}")
        return ops

    def _update_op(self):
        if self.at_kw("INSERT"):
            self.next()
            if self.eat_kw("DATA"):
                return A.InsertDataOp(self._quad_block(ground=True))
            ins = self._quad_block(allow_vars=True)
            return self._modify_tail(None, [], ins)
        if self.at_kw("DELETE"):
            self.next()
            if self.eat_kw("DATA"):
                return A.DeleteDataOp(
                    self._quad_block(ground=True, allow_bnodes=False))
            if self.at_kw("WHERE"):
                self.next()
                return A.DeleteWhereOp(
                    self._quad_block(allow_bnodes=False, allow_vars=True))
            dels = self._quad_block(allow_bnodes=False, allow_vars=True)
            ins = []
            if self.eat_kw("INSERT"):
                ins = self._quad_block(allow_vars=True)
            return self._modify_tail(None, dels, ins)
        if self.at_kw("WITH"):
            self.next()
            g = self.parse_iri()
            dels, ins = [], []
            if self.eat_kw("DELETE"):
                dels = self._quad_block(allow_bnodes=False, allow_vars=True)
                if self.eat_kw("INSERT"):
                    ins = self._quad_block(allow_vars=True)
            elif self.eat_kw("INSERT"):
                ins = self._quad_block(allow_vars=True)
            else:
                raise SparqlSyntaxError("WITH requires DELETE/INSERT")
            return self._modify_tail(g, dels, ins)
        if self.at_kw("LOAD"):
            self.next()
            silent = bool(self.eat_kw("SILENT"))
            src = self.parse_iri()
            graph = None
            if self.eat_kw("INTO"):
                self.expect_kw("GRAPH")
                graph = self.parse_iri()
            return A.LoadOp(src, graph, silent)
        if self.at_kw("CLEAR") or self.at_kw("DROP"):
            drop = self.next().value.upper() == "DROP"
            silent = bool(self.eat_kw("SILENT"))
            return A.ClearOp(self._graph_ref(), silent, drop)
        if self.at_kw("CREATE"):
            self.next()
            silent = bool(self.eat_kw("SILENT"))
            self.expect_kw("GRAPH")
            return A.CreateOp(self.parse_iri(), silent)
        if self.at_kw("COPY") or self.at_kw("MOVE") or self.at_kw("ADD"):
            kind = self.next().value.upper()
            silent = bool(self.eat_kw("SILENT"))
            src = self._graph_or_default()
            self.expect_kw("TO")
            return A.GraphManagementOp(kind, src, self._graph_or_default(),
                                       silent)
        raise SparqlSyntaxError(
            f"expected update operation at {self.peek().pos}: "
            f"{self.peek().value!r}")

    def _graph_ref(self):
        if self.eat_kw("GRAPH"):
            return self.parse_iri()
        if self.eat_kw("DEFAULT"):
            return "default"
        if self.eat_kw("NAMED"):
            return "named"
        if self.eat_kw("ALL"):
            return "all"
        raise SparqlSyntaxError("expected GRAPH <iri> | DEFAULT | NAMED | ALL")

    def _graph_or_default(self):
        if self.eat_kw("DEFAULT"):
            return "default"
        self.eat_kw("GRAPH")
        return self.parse_iri()

    def _modify_tail(self, with_graph, dels, ins):
        using = A.Dataset()
        seen_using = False
        while self.at_kw("USING"):
            self.next()
            seen_using = True
            if self.eat_kw("NAMED"):
                using.named.append(self.parse_iri())
            else:
                using.default.append(self.parse_iri())
        self.expect_kw("WHERE")
        pattern = self.parse_group_graph_pattern()
        return A.ModifyOp(dels, ins, pattern, with_graph=with_graph,
                          dataset=using if seen_using else None)

    def _template_triples(self) -> list:
        triples = []
        while True:
            t = self.peek()
            if t.kind == "OP" and t.value == "}":
                break
            if t.kind == "KEYWORD_OR_NAME" and t.value.upper() == "GRAPH":
                break
            triples.extend(self._triples_same_subject(allow_paths=False))
            if not self.eat_op("."):
                break
        return triples

    def _quad_block(self, ground: bool = False, allow_bnodes: bool = True,
                    allow_vars: bool = False) -> list:
        """'{' Quads '}' → list of (graph, s, p, o) quad patterns."""
        self.expect_op("{")
        quads: list = []
        while True:
            t = self.peek()
            if t.kind == "OP" and t.value == "}":
                self.next()
                break
            if t.kind == "KEYWORD_OR_NAME" and t.value.upper() == "GRAPH":
                self.next()
                if self.peek().kind == "VAR":
                    g = self.parse_var()
                else:
                    g = self.parse_iri()
                self.expect_op("{")
                for tp in self._template_triples():
                    quads.append((g, tp.subject, tp.predicate, tp.object))
                self.expect_op("}")
                self.eat_op(".")
                continue
            for tp in self._template_triples():
                quads.append((None, tp.subject, tp.predicate, tp.object))
        from ..terms import BlankNode as _BN
        for q in quads:
            for x in q:
                if isinstance(x, Variable):
                    # '[...]'/'_:' parse to __bn_ template vars — they are
                    # blank nodes, not variables, for these constraints
                    if x.name.startswith("__bn_"):
                        if not allow_bnodes:
                            raise SparqlSyntaxError(
                                "blank nodes are not allowed in DELETE "
                                "templates")
                    elif ground or not allow_vars:
                        raise SparqlSyntaxError(
                            f"variable ?{x.name} not allowed in this "
                            "quad block")
                elif isinstance(x, _BN) and not allow_bnodes:
                    raise SparqlSyntaxError(
                        "blank nodes are not allowed in DELETE templates")
        return quads

    def _prologue(self):
        while True:
            if self.at_kw("PREFIX"):
                self.next()
                t = self.next()
                if t.kind != "PNAME" or not t.value.endswith(":"):
                    raise SparqlSyntaxError(f"bad PREFIX decl at {t.pos}")
                pfx = t.value[:-1]
                iri = self.next()
                if iri.kind != "IRIREF":
                    raise SparqlSyntaxError(f"bad PREFIX IRI at {iri.pos}")
                self.prefixes[pfx] = self._resolve_iri(iri.value)
            elif self.at_kw("BASE"):
                self.next()
                iri = self.next()
                if iri.kind != "IRIREF":
                    raise SparqlSyntaxError("bad BASE IRI")
                self.base = iri.value[1:-1]
            else:
                return

    def _dataset(self) -> Optional[A.Dataset]:
        ds = A.Dataset()
        seen = False
        while self.at_kw("FROM"):
            self.next()
            seen = True
            if self.eat_kw("NAMED"):
                ds.named.append(self.parse_iri())
            else:
                ds.default.append(self.parse_iri())
        return ds if seen else None

    # ------------------------------------------------------------------
    # SELECT
    # ------------------------------------------------------------------

    def _select_query(self, top: bool) -> A.SelectQuery:
        self.expect_kw("SELECT")
        distinct = reduced = False
        if self.eat_kw("DISTINCT"):
            distinct = True
        elif self.eat_kw("REDUCED"):
            reduced = True

        proj: list = []  # list of Variable | (Variable, expr)
        star = False
        if self.eat_op("*"):
            star = True
        else:
            seen_proj: set[str] = set()
            while True:
                if self.peek().kind == "VAR":
                    v = self.parse_var()
                    # spec §18.2.4.4: (expr AS ?v) may not reuse a name;
                    # a plain variable may repeat (legal, if pointless)
                    if any(isinstance(p, tuple) and p[0].name == v.name
                           for p in proj):
                        raise SparqlSyntaxError(
                            f"?{v.name} already assigned in SELECT")
                    seen_proj.add(v.name)
                    proj.append(v)
                elif self.at_op("("):
                    self.next()
                    e = self.parse_expression()
                    self.expect_kw("AS")
                    v = self.parse_var()
                    self.expect_op(")")
                    if v.name in seen_proj:
                        raise SparqlSyntaxError(
                            f"(... AS ?{v.name}) reuses a variable already "
                            "in the SELECT clause")
                    seen_proj.add(v.name)
                    proj.append((v, e))
                else:
                    break
            if not proj:
                raise SparqlSyntaxError("empty SELECT clause")

        dataset = self._dataset() if top else None
        self.eat_kw("WHERE")
        pattern = self.parse_group_graph_pattern()
        pattern, out_vars = self._solution_modifiers(pattern, proj, star)
        if distinct:
            pattern = A.Distinct(pattern) if not isinstance(pattern, A.Slice) else \
                A.Slice(A.Distinct(pattern.inner), pattern.start, pattern.length)
        elif reduced:
            pattern = A.Reduced(pattern) if not isinstance(pattern, A.Slice) else \
                A.Slice(A.Reduced(pattern.inner), pattern.start, pattern.length)
        return A.SelectQuery(pattern=pattern, dataset=dataset)

    def _solution_modifiers(self, pattern, proj: list, star: bool):
        """GROUP BY / HAVING / ORDER BY / LIMIT / OFFSET + projection
        (spec §18.2.4 algebra assembly)."""
        group_keys: list[Variable] = []
        group_exprs: list[tuple[Variable, object]] = []
        has_group = False
        if self.at_kw("GROUP"):
            self.next()
            self.expect_kw("BY")
            has_group = True
            while True:
                if self.peek().kind == "VAR":
                    group_keys.append(self.parse_var())
                elif self.at_op("("):
                    self.next()
                    e = self.parse_expression()
                    if self.eat_kw("AS"):
                        v = self.parse_var()
                    else:
                        v = Variable(f"__groupkey_{len(group_exprs)}")
                    self.expect_op(")")
                    group_exprs.append((v, e))
                    group_keys.append(v)
                elif (self.peek().kind == "KEYWORD_OR_NAME"
                      and self.peek().value.upper() in _BUILTIN_FNS) or \
                        self.peek().kind in ("IRIREF", "PNAME"):
                    e = self.parse_primary_expression()
                    v = Variable(f"__groupkey_{len(group_exprs)}")
                    group_exprs.append((v, e))
                    group_keys.append(v)
                else:
                    break
            if not group_keys:
                raise SparqlSyntaxError("empty GROUP BY")

        having_exprs = []
        if self.at_kw("HAVING"):
            self.next()
            while self.at_op("(") or (
                    self.peek().kind == "KEYWORD_OR_NAME"
                    and self.peek().value.upper() in (_BUILTIN_FNS | _AGGREGATES)):
                having_exprs.append(self.parse_constraint(allow_aggs=True))

        order_conds: list[A.OrderCondition] = []
        if self.at_kw("ORDER"):
            self.next()
            self.expect_kw("BY")
            while True:
                if self.eat_kw("ASC"):
                    e = self.parse_bracketted()
                    order_conds.append(A.OrderCondition(e, True))
                elif self.eat_kw("DESC"):
                    e = self.parse_bracketted()
                    order_conds.append(A.OrderCondition(e, False))
                elif self.peek().kind == "VAR":
                    order_conds.append(A.OrderCondition(A.EVar(self.parse_var().name), True))
                elif self.at_op("("):
                    order_conds.append(A.OrderCondition(self.parse_bracketted(), True))
                elif (self.peek().kind == "KEYWORD_OR_NAME"
                      and self.peek().value.upper() in (_BUILTIN_FNS | _AGGREGATES)):
                    order_conds.append(A.OrderCondition(self.parse_primary_expression(), True))
                elif self.peek().kind in ("IRIREF", "PNAME"):
                    # Constraint ::= ... | FunctionCall (e.g. xsd:float(?v))
                    order_conds.append(A.OrderCondition(self.parse_primary_expression(), True))
                else:
                    break
            if not order_conds:
                raise SparqlSyntaxError("empty ORDER BY")

        limit = offset = None
        while self.at_kw("LIMIT", "OFFSET"):
            if self.eat_kw("LIMIT"):
                limit = self._nonneg_int("LIMIT")
            elif self.eat_kw("OFFSET"):
                offset = self._nonneg_int("OFFSET")

        # --- aggregate extraction ---
        agg_list: list[tuple[Variable, A.AggCall]] = []

        def extract_aggs(e):
            if isinstance(e, A.AggCall):
                v = Variable(f"__agg_{len(agg_list)}")
                agg_list.append((v, e))
                return A.EVar(v.name)
            if isinstance(e, A.ECall):
                return A.ECall(e.name, [extract_aggs(x) for x in e.args])
            return e

        proj_out: list[Variable] = []
        select_exprs: list[tuple[Variable, object]] = []
        for item in proj:
            if isinstance(item, Variable):
                proj_out.append(item)
            else:
                v, e = item
                select_exprs.append((v, extract_aggs(e)))
                proj_out.append(v)
        having_exprs = [extract_aggs(e) for e in having_exprs]
        order_conds = [A.OrderCondition(extract_aggs(c.expr), c.ascending)
                       for c in order_conds]

        needs_group = has_group or bool(agg_list)

        if needs_group:
            # syntax constraint (spec §18.2.4.1): projected variables must
            # be group keys, aggregate results, or later aliases
            if star:
                raise SparqlSyntaxError(
                    "SELECT * is not allowed with GROUP BY/aggregates")
            allowed = {v.name for v in group_keys}

            def _check_expr(e):
                if isinstance(e, A.EVar):
                    if not e.name.startswith("__agg_") \
                            and e.name not in allowed:
                        raise SparqlSyntaxError(
                            f"variable ?{e.name} is neither grouped nor "
                            "aggregated")
                elif isinstance(e, A.ECall):
                    for a in e.args:
                        _check_expr(a)

            for item in proj:
                if isinstance(item, Variable) and item.name not in allowed:
                    raise SparqlSyntaxError(
                        f"variable ?{item.name} is neither grouped nor "
                        "aggregated")
            for v, e in select_exprs:
                _check_expr(e)
                allowed.add(v.name)

        if needs_group:
            inner = pattern
            for v, e in group_exprs:
                inner = A.Extend(inner, v, e)
            pattern = A.Group(inner, group_keys, agg_list)
        for e in having_exprs:
            pattern = A.Filter(e, pattern)
        for v, e in select_exprs:
            pattern = A.Extend(pattern, v, e)
        if order_conds:
            pattern = A.OrderBy(pattern, order_conds)
        if star:
            vars_ = sorted(A.pattern_variables(
                pattern.inner if isinstance(pattern, A.OrderBy) else pattern))
            proj_out = [Variable(v) for v in vars_ if not v.startswith("__")]
        pattern = A.Project(pattern, proj_out)
        if limit is not None or offset is not None:
            pattern = A.Slice(pattern, offset or 0, limit)
        return pattern, proj_out

    def parse_bracketted(self):
        self.expect_op("(")
        e = self.parse_expression()
        self.expect_op(")")
        return e

    def parse_constraint(self, allow_aggs: bool = False):
        if self.at_op("("):
            e = self.parse_bracketted()
        else:
            e = self.parse_primary_expression()
        # spec §19.8 Aggregate projection restriction: aggregates may
        # appear only in SELECT expressions, HAVING, and ORDER BY —
        # never in FILTER constraints
        if not allow_aggs and _contains_agg(e):
            raise SparqlSyntaxError("aggregate call not allowed in FILTER")
        return e

    # ------------------------------------------------------------------
    # other query forms
    # ------------------------------------------------------------------

    def _ask_query(self) -> A.AskQuery:
        self.expect_kw("ASK")
        dataset = self._dataset()
        self.eat_kw("WHERE")
        pattern = self.parse_group_graph_pattern()
        return A.AskQuery(pattern=pattern, dataset=dataset)

    def _construct_query(self) -> A.ConstructQuery:
        self.expect_kw("CONSTRUCT")
        if self.at_op("{"):
            template = self._construct_template()
            dataset = self._dataset()
            self.expect_kw("WHERE")
            pattern = self.parse_group_graph_pattern()
        else:
            # CONSTRUCT WHERE { triples } shorthand
            dataset = self._dataset()
            self.expect_kw("WHERE")
            pattern = self.parse_group_graph_pattern()
            if not isinstance(pattern, A.BGP):
                raise SparqlSyntaxError("CONSTRUCT WHERE requires a plain BGP")
            template = list(pattern.triples)
        pattern, _ = self._solution_modifiers(pattern, [], star=True)
        return A.ConstructQuery(template=template, pattern=pattern, dataset=dataset)

    def _construct_template(self) -> list[A.TriplePattern]:
        self.expect_op("{")
        triples: list[A.TriplePattern] = []
        while not self.at_op("}"):
            triples.extend(self._triples_same_subject(allow_paths=False))
            if not self.eat_op("."):
                break
        self.expect_op("}")
        return triples

    def _describe_query(self) -> A.DescribeQuery:
        self.expect_kw("DESCRIBE")
        terms: list = []
        if not self.eat_op("*"):
            while True:
                if self.peek().kind == "VAR":
                    terms.append(self.parse_var())
                elif self.peek().kind in ("IRIREF", "PNAME"):
                    terms.append(self.parse_iri())
                else:
                    break
        dataset = self._dataset()
        pattern = None
        if self.eat_kw("WHERE") or self.at_op("{"):
            pattern = self.parse_group_graph_pattern()
            pattern, _ = self._solution_modifiers(pattern, [], star=True)
        return A.DescribeQuery(terms=terms, pattern=pattern, dataset=dataset)

    # ------------------------------------------------------------------
    # group graph pattern → algebra  (spec §18.2.2)
    # ------------------------------------------------------------------

    def parse_group_graph_pattern(self):
        self.expect_op("{")
        if self.at_kw("SELECT"):
            sub = self._select_query(top=False)
            self.expect_op("}")
            return sub.pattern
        g = self._group_graph_pattern_sub()
        self.expect_op("}")
        return g

    def _group_graph_pattern_sub(self):
        acc = None  # None = empty group (unit)
        filters: list = []

        def join(pat):
            nonlocal acc
            if pat is None:
                return
            acc = pat if acc is None else A.Join(acc, pat)

        while True:
            t = self.peek()
            if t.kind == "OP" and t.value == "}":
                break
            if self.at_kw("FILTER"):
                self.next()
                filters.append(self.parse_constraint())
                self.eat_op(".")
                continue
            if self.at_kw("OPTIONAL"):
                self.next()
                right = self.parse_group_graph_pattern()
                expr = None
                if isinstance(right, A.Filter):
                    expr, right = right.expr, right.inner
                acc = A.LeftJoin(acc if acc is not None else A.BGP([]), right, expr)
                self.eat_op(".")
                continue
            if self.at_kw("MINUS"):
                self.next()
                right = self.parse_group_graph_pattern()
                acc = A.Minus(acc if acc is not None else A.BGP([]), right)
                self.eat_op(".")
                continue
            if self.at_kw("LATERAL"):
                self.next()
                right = self.parse_group_graph_pattern()
                acc = A.Lateral(acc if acc is not None else A.BGP([]), right)
                self.eat_op(".")
                continue
            if self.at_kw("GRAPH"):
                self.next()
                if self.peek().kind == "VAR":
                    name = self.parse_var()
                else:
                    name = self.parse_iri()
                inner = self.parse_group_graph_pattern()
                join(A.GraphNode(name, inner))
                self.eat_op(".")
                continue
            if self.at_kw("BIND"):
                self.next()
                self.expect_op("(")
                e = self.parse_expression()
                self.expect_kw("AS")
                v = self.parse_var()
                self.expect_op(")")
                # syntax constraint (spec §10.1): the BIND target must not
                # already be in scope at this point in the group
                if acc is not None and v.name in A.pattern_variables(acc):
                    raise SparqlSyntaxError(
                        f"BIND would rebind in-scope variable ?{v.name}")
                if _contains_agg(e):
                    raise SparqlSyntaxError(
                        "aggregate call not allowed in BIND")
                acc = A.Extend(acc if acc is not None else A.BGP([]), v, e)
                self.eat_op(".")
                continue
            if self.at_kw("VALUES"):
                join(self._inline_data())
                self.eat_op(".")
                continue
            if self.at_kw("SERVICE"):
                # SPARQL 1.1 Federated Query (beyond the reference, which
                # #[ignore]s its service suite). The inner group's raw
                # source is captured so the remote request preserves the
                # author's pattern verbatim (plus this query's prologue).
                self.next()
                silent = self.eat_kw("SILENT")
                if self.peek().kind == "VAR":
                    # variable endpoint: legal syntax; evaluation yields a
                    # per-solution error when unbound (oxigraph-tests
                    # ask_{union,join}_error_*: the branch becomes empty,
                    # the query does not abort)
                    endpoint = self.parse_var()
                else:
                    endpoint = self.parse_iri()
                start = self.peek().pos
                inner = self.parse_group_graph_pattern()
                last = self.toks[self.i - 1]
                raw = self.text[start:last.pos + len(last.value)]
                pro = []
                if self.base:
                    pro.append(f"BASE <{self.base}>")
                for pfx, iri in self.prefixes.items():
                    pro.append(f"PREFIX {pfx}: <{iri}>")
                join(A.ServiceNode(endpoint, inner, raw,
                                   "\n".join(pro), silent))
                self.eat_op(".")
                continue
            if t.kind == "OP" and t.value == "{":
                # GroupOrUnionGraphPattern
                g = self.parse_group_graph_pattern()
                while self.at_kw("UNION"):
                    self.next()
                    g2 = self.parse_group_graph_pattern()
                    g = A.Union(g, g2)
                join(g)
                self.eat_op(".")
                continue
            # TriplesBlock
            triples = []
            while True:
                items = self._triples_same_subject(allow_paths=True)
                triples.extend(items)
                if self.eat_op("."):
                    t2 = self.peek()
                    if t2.kind in ("VAR", "IRIREF", "PNAME", "BNODE", "INTEGER",
                                   "DECIMAL", "DOUBLE", "STRING", "STRING_LONG") or \
                            (t2.kind == "OP" and t2.value in ("[", "(")) or \
                            self.at_kw("TRUE", "FALSE"):
                        continue
                break
            # split into plain triples and path patterns
            self._check_bnode_scope(triples)
            plain = [x for x in triples if isinstance(x, A.TriplePattern)]
            paths = [x for x in triples if isinstance(x, A.PathPattern)]
            if plain:
                join(A.BGP(plain))
            for pp in paths:
                join(pp)

        g = acc if acc is not None else A.BGP([])
        for f in filters:
            g = A.Filter(f, g)
        return g

    def _inline_data(self) -> A.ValuesNode:
        self.expect_kw("VALUES")
        vars_: list[Variable] = []
        rows: list[list[Optional[object]]] = []
        if self.peek().kind == "VAR":
            vars_.append(self.parse_var())
            self.expect_op("{")
            while not self.at_op("}"):
                rows.append([self._data_value()])
            self.next()
        else:
            self.expect_op("(")
            while self.peek().kind == "VAR":
                vars_.append(self.parse_var())
            self.expect_op(")")
            self.expect_op("{")
            while self.at_op("("):
                self.next()
                row = []
                while not self.at_op(")"):
                    row.append(self._data_value())
                self.next()
                if len(row) != len(vars_):
                    raise SparqlSyntaxError("VALUES row arity mismatch")
                rows.append(row)
            self.expect_op("}")
        return A.ValuesNode(vars_, rows)

    def _data_value(self):
        t = self.peek()
        if self.at_kw("UNDEF"):
            self.next()
            return None
        if self.at_kw("TRUE"):
            self.next()
            return Literal("true", XSD_BOOLEAN)
        if self.at_kw("FALSE"):
            self.next()
            return Literal("false", XSD_BOOLEAN)
        if t.kind in ("IRIREF", "PNAME"):
            return self.parse_iri()
        if t.kind in ("STRING", "STRING_LONG"):
            return self.parse_literal()
        if t.kind in ("INTEGER", "DECIMAL", "DOUBLE"):
            return self.parse_numeric()
        if t.kind == "OP" and t.value in ("+", "-"):
            self.next()
            return self.parse_numeric(negative=(t.value == "-"))
        raise SparqlSyntaxError(f"bad VALUES datum at {t.pos}: {t.value!r}")

    # ------------------------------------------------------------------
    # triples + property paths
    # ------------------------------------------------------------------

    def _triples_same_subject(self, allow_paths: bool) -> list:
        out: list = []
        t = self.peek()
        if t.kind == "OP" and t.value == "[":
            subj, triples = self._blank_node_property_list(allow_paths)
            out.extend(triples)
            if not (self.at_op(".") or self.at_op("}") or self.peek().kind == "EOF"):
                out.extend(self._property_list(subj, allow_paths))
            return out
        if t.kind == "OP" and t.value == "(":
            subj, triples = self._collection(allow_paths)
            out.extend(triples)
            out.extend(self._property_list(subj, allow_paths))
            return out
        subj = self._var_or_term()
        out.extend(self._property_list(subj, allow_paths, required=True))
        return out

    def _property_list(self, subj, allow_paths: bool, required: bool = False) -> list:
        out: list = []
        first = True
        while True:
            if not first and not self.eat_op(";"):
                break
            # allow trailing ';'
            if not first and (self.at_op(".") or self.at_op("}") or self.at_op("]")):
                break
            first = False
            pred = self._verb(allow_paths)
            while True:
                obj, extra = self._object(allow_paths)
                out.extend(extra)
                if isinstance(pred, (NamedNode, Variable)):
                    out.append(A.TriplePattern(subj, pred, obj))
                else:
                    out.append(A.PathPattern(subj, pred, obj))
                if not self.eat_op(","):
                    break
            if required:
                required = False
        return out

    def _verb(self, allow_paths: bool):
        t = self.peek()
        if t.kind == "VAR":
            return self.parse_var()
        if t.kind == "KEYWORD_OR_NAME" and t.value == "a":
            self.next()
            return NamedNode(RDF_NS + "type")
        if allow_paths:
            path = self._path()
            if isinstance(path, A.PathLink):
                return path.iri
            return path
        return self.parse_iri()

    def _object(self, allow_paths: bool):
        t = self.peek()
        if t.kind == "OP" and t.value == "[":
            node, triples = self._blank_node_property_list(allow_paths)
            return node, triples
        if t.kind == "OP" and t.value == "(":
            node, triples = self._collection(allow_paths)
            return node, triples
        return self._var_or_term(), []

    def _blank_node_property_list(self, allow_paths: bool):
        self.expect_op("[")
        node = self.fresh_bnode_var()
        if self.eat_op("]"):
            return node, []
        triples = self._property_list(node, allow_paths, required=True)
        self.expect_op("]")
        return node, triples

    def _collection(self, allow_paths: bool):
        self.expect_op("(")
        items = []
        triples: list = []
        while not self.at_op(")"):
            obj, extra = self._object(allow_paths)
            triples.extend(extra)
            items.append(obj)
        self.next()
        if not items:
            return NamedNode(RDF_NIL), triples
        head = self.fresh_bnode_var()
        cur = head
        for i, it in enumerate(items):
            triples.append(A.TriplePattern(cur, NamedNode(RDF_FIRST), it))
            if i == len(items) - 1:
                triples.append(A.TriplePattern(cur, NamedNode(RDF_REST),
                                               NamedNode(RDF_NIL)))
            else:
                nxt = self.fresh_bnode_var()
                triples.append(A.TriplePattern(cur, NamedNode(RDF_REST), nxt))
                cur = nxt
        return head, triples

    def _var_or_term(self):
        t = self.peek()
        if t.kind == "VAR":
            return self.parse_var()
        if t.kind in ("IRIREF", "PNAME"):
            return self.parse_iri()
        if t.kind == "BNODE":
            self.next()
            return self.fresh_bnode_var(t.value[2:])
        if t.kind in ("STRING", "STRING_LONG"):
            return self.parse_literal()
        if t.kind in ("INTEGER", "DECIMAL", "DOUBLE"):
            return self.parse_numeric()
        if t.kind == "OP" and t.value in ("+", "-"):
            self.next()
            return self.parse_numeric(negative=(t.value == "-"))
        if self.at_kw("TRUE"):
            self.next()
            return Literal("true", XSD_BOOLEAN)
        if self.at_kw("FALSE"):
            self.next()
            return Literal("false", XSD_BOOLEAN)
        if t.kind == "KEYWORD_OR_NAME" and t.value == "a":
            self.next()
            return NamedNode(RDF_NS + "type")
        raise SparqlSyntaxError(f"expected term at {t.pos}: {t.value!r}")

    # --- property paths (grammar: Path → PathAlternative → PathSequence →
    #     PathEltOrInverse → PathElt(PathPrimary + modifier)) ---

    def _path(self):
        return self._path_alternative()

    def _path_alternative(self):
        p = self._path_sequence()
        while self.at_op("|"):
            self.next()
            p = A.PathAlternative(p, self._path_sequence())
        return p

    def _path_sequence(self):
        p = self._path_elt_or_inverse()
        while self.at_op("/"):
            self.next()
            p = A.PathSequence(p, self._path_elt_or_inverse())
        return p

    def _path_elt_or_inverse(self):
        if self.eat_op("^"):
            return A.PathInverse(self._path_elt())
        return self._path_elt()

    def _path_elt(self):
        p = self._path_primary()
        if self.eat_op("?"):
            return A.PathZeroOrOne(p)
        if self.eat_op("*"):
            return A.PathZeroOrMore(p)
        if self.eat_op("+"):
            return A.PathOneOrMore(p)
        return p

    def _path_primary(self):
        t = self.peek()
        if t.kind == "OP" and t.value == "(":
            self.next()
            p = self._path_alternative()
            self.expect_op(")")
            return p
        if t.kind == "OP" and t.value == "!":
            self.next()
            return self._path_negated()
        if t.kind == "KEYWORD_OR_NAME" and t.value == "a":
            self.next()
            return A.PathLink(NamedNode(RDF_NS + "type"))
        return A.PathLink(self.parse_iri())

    def _path_negated(self):
        fwd: list[NamedNode] = []
        inv: list[NamedNode] = []

        def one():
            if self.eat_op("^"):
                if self.at_kw("A"):
                    self.next()
                    inv.append(NamedNode(RDF_NS + "type"))
                else:
                    inv.append(self.parse_iri())
            else:
                if self.peek().kind == "KEYWORD_OR_NAME" and self.peek().value == "a":
                    self.next()
                    fwd.append(NamedNode(RDF_NS + "type"))
                else:
                    fwd.append(self.parse_iri())

        if self.eat_op("("):
            if not self.at_op(")"):
                one()
                while self.eat_op("|"):
                    one()
            self.expect_op(")")
        else:
            one()
        return A.PathNegatedSet(fwd, inv)

    # ------------------------------------------------------------------
    # expressions (grammar §17; precedence || < && < cmp < add < mul < unary)
    # ------------------------------------------------------------------

    def parse_expression(self):
        return self._or_expr()

    def _or_expr(self):
        e = self._and_expr()
        while self.at_op("||"):
            self.next()
            e = A.ECall("||", [e, self._and_expr()])
        return e

    def _and_expr(self):
        e = self._relational_expr()
        while self.at_op("&&"):
            self.next()
            e = A.ECall("&&", [e, self._relational_expr()])
        return e

    def _relational_expr(self):
        e = self._additive_expr()
        t = self.peek()
        if t.kind == "OP" and t.value in ("=", "!=", "<", "<=", ">", ">="):
            self.next()
            return A.ECall(t.value, [e, self._additive_expr()])
        if self.at_kw("IN"):
            self.next()
            return A.ECall("IN", [e] + self._expression_list())
        if self.at_kw("NOT"):
            self.next()
            self.expect_kw("IN")
            return A.ECall("NOT IN", [e] + self._expression_list())
        return e

    def _expression_list(self) -> list:
        self.expect_op("(")
        out = []
        if not self.at_op(")"):
            out.append(self.parse_expression())
            while self.eat_op(","):
                out.append(self.parse_expression())
        self.expect_op(")")
        return out

    def _additive_expr(self):
        e = self._multiplicative_expr()
        while True:
            if self.at_op("+"):
                self.next()
                e = A.ECall("+", [e, self._multiplicative_expr()])
            elif self.at_op("-"):
                self.next()
                e = A.ECall("-", [e, self._multiplicative_expr()])
            else:
                return e

    def _multiplicative_expr(self):
        e = self._unary_expr()
        while True:
            if self.at_op("*"):
                self.next()
                e = A.ECall("*", [e, self._unary_expr()])
            elif self.at_op("/"):
                self.next()
                e = A.ECall("/", [e, self._unary_expr()])
            else:
                return e

    def _unary_expr(self):
        if self.eat_op("!"):
            return A.ECall("!", [self._unary_expr()])
        if self.eat_op("+"):
            return A.ECall("UPLUS", [self._unary_expr()])
        if self.eat_op("-"):
            return A.ECall("UMINUS", [self._unary_expr()])
        return self.parse_primary_expression()

    def parse_primary_expression(self):
        t = self.peek()
        if t.kind == "OP" and t.value == "(":
            return self.parse_bracketted()
        if t.kind == "VAR":
            return A.EVar(self.parse_var().name)
        if t.kind in ("STRING", "STRING_LONG"):
            return A.ETerm(self.parse_literal())
        if t.kind in ("INTEGER", "DECIMAL", "DOUBLE"):
            return A.ETerm(self.parse_numeric())
        if self.at_kw("TRUE"):
            self.next()
            return A.ETerm(Literal("true", XSD_BOOLEAN))
        if self.at_kw("FALSE"):
            self.next()
            return A.ETerm(Literal("false", XSD_BOOLEAN))
        if t.kind == "KEYWORD_OR_NAME":
            kw = t.value.upper()
            if kw == "NOT":
                self.next()
                self.expect_kw("EXISTS")
                return A.EExists(self.parse_group_graph_pattern(), negated=True)
            if kw == "EXISTS":
                self.next()
                return A.EExists(self.parse_group_graph_pattern(), negated=False)
            if kw in _AGGREGATES:
                return self._aggregate()
            if kw in _BUILTIN_FNS:
                self.next()
                if kw in ("NOW", "UUID", "STRUUID", "RAND"):
                    self.expect_op("(")
                    self.expect_op(")")
                    return A.ECall(kw, [])
                args = self._expression_list()
                if kw in ("IRI", "URI") and self.base and len(args) == 1:
                    # IRI(str) resolves against the query base at runtime;
                    # the base is a parse-time constant, carried as a
                    # synthetic second argument (reference:
                    # expression_rewriter.rs:139)
                    args = args + [A.ETerm(Literal(self.base))]
                return A.ECall(kw, args)
        if t.kind in ("IRIREF", "PNAME"):
            iri = self.parse_iri()
            if self.at_op("("):
                args = self._expression_list()
                return A.ECall(iri.iri, args)  # cast or custom function by IRI
            return A.ETerm(iri)
        raise SparqlSyntaxError(f"expected expression at {t.pos}: {t.value!r}")

    def _aggregate(self):
        kw = self.next().value.upper()
        self.expect_op("(")
        distinct = self.eat_kw("DISTINCT")
        if kw == "COUNT" and self.at_op("*"):
            self.next()
            self.expect_op(")")
            return A.AggCall("COUNT", None, distinct)
        e = self.parse_expression()

        # syntax constraint: aggregates cannot nest (spec §18.2.4.1 —
        # aggregate arguments are evaluated per group row, where no
        # aggregate value exists)
        def _no_nested_agg(x):
            if isinstance(x, A.AggCall):
                raise SparqlSyntaxError("nested aggregate in " + kw)
            if isinstance(x, A.ECall):
                for a in x.args:
                    _no_nested_agg(a)
        _no_nested_agg(e)
        sep = None
        if kw == "GROUP_CONCAT" and self.eat_op(";"):
            name = self.next()
            if name.kind != "KEYWORD_OR_NAME" or name.value.upper() != "SEPARATOR":
                raise SparqlSyntaxError("expected SEPARATOR in GROUP_CONCAT")
            self.expect_op("=")
            sep = self._string_token()
        self.expect_op(")")
        return A.AggCall(kw, e, distinct, sep)


def parse_query(text: str) -> A.Query:
    return Parser(text).parse_query()


def parse_update(text: str) -> list:
    """SPARQL 1.1 Update string → list of UpdateOp."""
    return Parser(text).parse_update()

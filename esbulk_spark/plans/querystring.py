"""ES query_string mini-language: parser + Spark compiler.

Models the Lucene/ES query_string syntax subset that covers the esbulk
serving contract (the _search `q=` parameter esbulk-fed clusters answer;
run_test.go drives _search and _count with such query strings):

    term                      analyzed term (may analyze to several
                              tokens -> combined with default_operator)
    "a b"                     match_phrase
    "a b"~N                   sloppy phrase with slop N
    pre*  w?ld*               prefix / wildcard term expansion
    +term  -term              must / must_not modifiers
    a AND b   a OR b   NOT a  boolean operators (AND binds tighter)
    ( ... )                   grouping
    field:term                field-qualified term: the index's text
                              field scores BM25; any other STORED doc
                              column is an exact keyword match
                              (constant_score 1.0, ES filter-context
                              semantics); unknown fields raise
    field:[a TO b]            ES range query (inclusive); {a TO b} is
    field:>=v  field:<v       exclusive; * is an open bound; >=/>/<=/<
                              are the shorthand forms. Constant-score
                              1.0 per matching doc, like ES
                              constant_score(range). Executes as a
                              docs-table predicate that pushes into the
                              parquet scan (the column-store analog of
                              ES's BKD-tree range visit; at scale the
                              same predicate prunes partitions)

Semantics (documented, oracle-consistent):
  * a clause sequence compiles to an ES bool query: `+` -> must,
    `-`/NOT -> must_not, bare -> should; default_operator="AND" makes
    bare clauses must (ES query_string default_operator)
  * matching: every must matches, no must_not matches, and (when no
    must exists) >= 1 should matches
  * scoring: sum of BM25 scores of the POSITIVE clauses that match
    (Lucene: non-matching optional clauses contribute 0); must_not
    never scores

Compilation is leaf-parallel and set-algebraic: each positive leaf
becomes a full (doc_id, score) frame off the pruned postings/positions
scans (term -> score_all, phrase -> _phrase_scores, prefix/wildcard ->
dictionary expansion + disjunction decode), then the bool tree combines
them with unions + groupBy-sum (should), inner joins (must), and
left-anti joins (must_not). At 100 TB each leaf frame is bounded by its
own posting volume and the combines shuffle only matched doc_ids —
there is no corpus scan anywhere in the tree."""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["parse_query_string", "QueryStringError", "compile_node"]


class QueryStringError(ValueError):
    pass


# ------------------------------------------------------------ AST


@dataclass
class Term:
    text: str


@dataclass
class Phrase:
    text: str
    slop: int = 0


@dataclass
class Pattern:  # trailing-* prefix or general wildcard
    text: str


@dataclass
class FieldTerm:  # exact keyword match on a stored non-text column
    fld: str
    value: object


@dataclass
class Exists:  # ES exists query / `_exists_:field` — non-null stored column
    fld: str


@dataclass
class Range:  # ES range query over a stored column; None = open bound
    fld: str
    lo: object = None
    hi: object = None
    incl_lo: bool = True
    incl_hi: bool = True


@dataclass
class Bool:
    must: list = field(default_factory=list)
    should: list = field(default_factory=list)
    must_not: list = field(default_factory=list)


# ------------------------------------------------------------ lexer

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lparen>\() |
        (?P<rparen>\)) |
        (?P<and>AND\b) |
        (?P<or>OR\b) |
        (?P<not>NOT\b) |
        (?P<plus>\+) |
        (?P<minus>-) |
        (?P<phrase>"(?P<ph>[^"]*)"(?:~(?P<slop>\d+))?) |
        (?P<range>(?P<rfld>[A-Za-z_][\w.]*):(?P<lb>[\[{])\s*
                  (?P<rlo>[^\s\]}]+)\s+TO\s+(?P<rhi>[^\s\]}]+)\s*
                  (?P<rb>[\]}])) |
        (?P<word>[^\s()+\-"][^\s()"]*)
    )""",
    re.VERBOSE,
)


def _lex(q: str) -> list[tuple[str, object]]:
    out, pos = [], 0
    while pos < len(q):
        m = _TOKEN_RE.match(q, pos)
        if not m or m.end() == pos:
            if q[pos:].strip():
                raise QueryStringError(f"cannot lex query at: {q[pos:]!r}")
            break
        pos = m.end()
        kind = m.lastgroup if m.lastgroup not in ("ph", "slop") else "phrase"
        for k in ("lparen", "rparen", "and", "or", "not", "plus", "minus"):
            if m.group(k):
                out.append((k, None))
                break
        else:
            if m.group("phrase"):
                out.append(("phrase", (m.group("ph"), int(m.group("slop") or 0))))
            elif m.group("range"):
                out.append(
                    (
                        "range",
                        (
                            m.group("rfld"),
                            m.group("rlo"),
                            m.group("rhi"),
                            m.group("lb") == "[",
                            m.group("rb") == "]",
                        ),
                    )
                )
            else:
                out.append(("word", m.group("word")))
    return out


def _coerce(v: str):
    """Range/field literal -> int/float when numeric, else the string
    (matching how ES coerces range bounds against a numeric mapping)."""
    try:
        return int(v)
    except ValueError:
        try:
            return float(v)
        except ValueError:
            return v


# ------------------------------------------------------------ parser


class _Parser:
    """Recursive descent: OR < AND < unary < atom; a bare clause
    sequence at one level folds into a Bool with default_operator."""

    def __init__(self, tokens, default_field: str, default_operator: str):
        self.toks = tokens
        self.i = 0
        self.default_field = default_field
        self.default_op = default_operator.upper()

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def take(self):
        t = self.peek()
        self.i += 1
        return t

    def parse(self):
        node = self.or_expr()
        if self.peek()[0] is not None:
            raise QueryStringError(f"unexpected token at clause {self.i}")
        return node

    def or_expr(self):
        parts = [self.and_expr()]
        while self.peek()[0] == "or":
            self.take()
            parts.append(self.and_expr())
        if len(parts) == 1:
            return parts[0]
        return Bool(should=parts)

    def and_expr(self):
        parts = [self.seq_expr()]
        while self.peek()[0] == "and":
            self.take()
            parts.append(self.seq_expr())
        if len(parts) == 1:
            return parts[0]
        return Bool(must=parts)

    def seq_expr(self):
        """Adjacent clauses (no explicit operator): ES bool fold with
        +/-/NOT modifiers; default_operator decides bare clauses."""
        b = Bool()
        while True:
            kind = self.peek()[0]
            if kind in (None, "rparen", "and", "or"):
                break
            if kind == "plus":
                self.take()
                b.must.append(self.atom())
            elif kind in ("minus", "not"):
                self.take()
                b.must_not.append(self.atom())
            else:
                atom = self.atom()
                (b.must if self.default_op == "AND" else b.should).append(atom)
        if not (b.must or b.should or b.must_not):
            raise QueryStringError("empty clause")
        if len(b.must) + len(b.should) + len(b.must_not) == 1 and b.must_not == []:
            return (b.must or b.should)[0]
        return b

    def atom(self):
        kind, val = self.take()
        if kind == "lparen":
            node = self.or_expr()
            if self.take()[0] != "rparen":
                raise QueryStringError("unbalanced parenthesis")
            return node
        if kind == "phrase":
            text, slop = val
            return Phrase(text, slop)
        if kind == "range":
            fld, lo, hi, incl_lo, incl_hi = val
            return Range(
                fld,
                None if lo == "*" else _coerce(lo),
                None if hi == "*" else _coerce(hi),
                incl_lo,
                incl_hi,
            )
        if kind == "word":
            if ":" in val:
                fld, _, rest = val.partition(":")
                # shorthand comparison ranges: field:>=v  field:<v ...
                for op, (lo_i, hi_i) in (
                    (">=", (True, None)),
                    ("<=", (None, True)),
                    (">", (False, None)),
                    ("<", (None, False)),
                ):
                    if rest.startswith(op):
                        v = _coerce(rest[len(op):])
                        if lo_i is None:
                            return Range(fld, None, v, True, hi_i)
                        return Range(fld, v, None, lo_i, True)
                if fld == "_exists_":
                    # ES `_exists_:field` shorthand for the exists query
                    return Exists(rest)
                if fld != self.default_field:
                    # exact keyword match on a stored doc column;
                    # existence is validated at compile time against
                    # the index's docs schema
                    return FieldTerm(fld, _coerce(rest))
                val = rest
            if "*" in val or "?" in val:
                return Pattern(val)
            return Term(val)
        raise QueryStringError(f"unexpected token kind {kind!r}")


def parse_query_string(
    q: str, default_field: str = "text", default_operator: str = "OR"
):
    toks = _lex(q)
    if not toks:
        raise QueryStringError("empty query string")
    return _Parser(toks, default_field, default_operator).parse()


# ------------------------------------------------------------ compiler


def _filter_pred(reader, node):
    """Column predicate for a FieldTerm/Range leaf over the STORED doc
    table; validates the field against the index's docs schema. The
    predicate pushes into the parquet scan (column-pruned to doc_id +
    the one field) — the column-store analog of ES's BKD range visit."""
    cols = set(reader.docs().columns)
    if node.fld not in cols:
        raise QueryStringError(
            f"unknown field {node.fld!r}: stored columns are {sorted(cols)}"
        )
    c = F.col(node.fld)
    if isinstance(node, Exists):
        return c.isNotNull()
    if isinstance(node, FieldTerm):
        return c == F.lit(node.value)
    preds = []
    if node.lo is not None:
        preds.append(c >= F.lit(node.lo) if node.incl_lo else c > F.lit(node.lo))
    if node.hi is not None:
        preds.append(c <= F.lit(node.hi) if node.incl_hi else c < F.lit(node.hi))
    if not preds:
        raise QueryStringError(f"range on {node.fld!r} with both bounds open")
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def _leaf_scores(reader, node) -> DataFrame | None:
    """Full (doc_id, score) frame for one positive leaf; None when the
    leaf matches nothing (absent term / empty expansion)."""
    if isinstance(node, (FieldTerm, Range, Exists)):
        # ES constant_score / filter-context semantics: every matching
        # doc contributes exactly 1.0
        return (
            reader.docs()
            .filter(_filter_pred(reader, node))
            .select("doc_id", F.lit(1.0).alias("score"))
        )
    if isinstance(node, Term):
        from esbulk_spark.functions.analyzer import tokenize_text

        # a single word analyzing to several tokens (camelCase split)
        # scores as their disjunction, the ES analyzed-term behavior
        return reader._match(should=tokenize_text(node.text))
    if isinstance(node, Phrase):
        if node.slop > 0:
            return reader._sloppy_scores(node.text, node.slop).select(
                "doc_id", "score"
            )
        return reader._phrase_scores(node.text).select("doc_id", "score")
    if isinstance(node, Pattern):
        if node.text.endswith("*") and "*" not in node.text[:-1] and "?" not in node.text:
            dfs = reader.expand_prefix(node.text[:-1])
        else:
            dfs = reader.expand_wildcard(node.text)
        return reader._match(should=sorted(dfs))
    raise QueryStringError(f"cannot score node {node!r}")


def compile_node(reader, node) -> DataFrame:
    """Compile an AST node to its full (doc_id, score) match frame."""
    spark = reader.spark
    empty = spark.createDataFrame([], "doc_id long, score double")
    if isinstance(node, (Term, Phrase, Pattern, FieldTerm, Range, Exists)):
        out = _leaf_scores(reader, node)
        return empty if out is None else out
    if not isinstance(node, Bool):  # pragma: no cover
        raise QueryStringError(f"unknown node {node!r}")

    must = [compile_node(reader, n) for n in node.must]
    should = [compile_node(reader, n) for n in node.should]

    if not must and not should:
        raise QueryStringError(
            "pure-negative query: at least one positive clause required"
        )

    # candidate set: intersection of musts, else union of shoulds
    if must:
        base = must[0].select("doc_id")
        for m in must[1:]:
            base = base.join(m.select("doc_id"), "doc_id")
    else:
        base = None
        for s in should:
            base = s.select("doc_id") if base is None else base.unionByName(
                s.select("doc_id")
            )
        base = base.distinct()

    # score: sum every positive clause's contribution over the candidates
    contrib = None
    for f in must + should:
        contrib = f if contrib is None else contrib.unionByName(f)
    scored = (
        contrib.join(base, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.sum("score").alias("score"))
    )

    for n in node.must_not:
        excl = compile_node(reader, n).select("doc_id")
        scored = scored.join(excl, "doc_id", "left_anti")
    return scored


def search_query_string(
    reader,
    q: str,
    k: int = 10,
    round_to: int | None = None,
    default_operator: str = "OR",
) -> DataFrame:
    """Parse + execute an ES query_string; top-k (doc_id, score) under
    the deterministic (score DESC, doc_id ASC) order every search
    surface uses."""
    from esbulk_spark.plans.score import topk_deterministic

    node = parse_query_string(
        q, default_field=reader._text_col(), default_operator=default_operator
    )
    scored = compile_node(reader, node)
    return topk_deterministic(scored, k, round_to)

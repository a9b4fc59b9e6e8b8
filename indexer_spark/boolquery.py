"""Boolean query language: AND / OR / NOT, parentheses, quoted phrases.

No reference analog (the reference engine is OR-only over whitespace
tokens, SURVEY §2.7); this is the standard search-engine front-end the
positional/conjunctive machinery makes possible. Grammar (operators
case-insensitive, implicit AND between adjacent atoms):

    expr   := and_ex (OR and_ex)*
    and_ex := unary (AND? unary)*
    unary  := NOT unary | atom
    atom   := '(' expr ')' | '"' words '"' | word | prefix'*'

Semantics:
- a bare word runs through the engine lexer (lowercase, char-class
  split, Porter2 stem, stop-word drop); a word lexing to several terms
  becomes an implicit AND group, to zero terms (a stop-word) a neutral
  atom that vanishes from its group;
- a quoted phrase matches contiguously with stop-word gaps respected
  (same positional semantics as ``mode='phrase'``) and requires a
  positional index;
- ``word*`` is a prefix atom: it expands against the index's (stemmed)
  term dictionary into an OR of the matching terms, capped at
  MAX_PREFIX_EXPANSIONS highest-df terms; a prefix matching nothing is
  an empty set (it empties an AND group), not a neutral atom;
- NOT is a restriction, not a set: it must appear alongside at least
  one positive atom in its AND group (a pure-negative query raises
  ``ValueError`` — at 10^12 docs "everything except X" is not a
  servable query);
- matching docs score standard BM25 over the distinct POSITIVE terms
  they contain (sorted-term float order, same arithmetic as every
  other mode); negated terms never contribute to the score.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np

from .lexer import term_occurrences, tokenize

__all__ = [
    "MAX_PREFIX_EXPANSIONS", "And", "Or", "ParsedQuery", "Phrase",
    "Prefix", "Term", "cap_expansions", "eval_docs", "from_root",
    "parse", "rewrite_prefixes",
]


# expansion cap shared by engine and oracle: a prefix matching more
# dictionary terms keeps the highest-df ones (most selective rewrite,
# deterministic (-df, term) tiebreak) — the standard bounded multi-term
# rewrite; unbounded expansion of e.g. 'a*' is a query-of-death at scale
MAX_PREFIX_EXPANSIONS = 128


@dataclass(frozen=True)
class Term:
    term: str


@dataclass(frozen=True)
class Prefix:
    prefix: str  # matches dictionary (stemmed) terms starting with this


@dataclass(frozen=True)
class Phrase:
    raw: str  # original quoted content (oracle re-derives from this)
    terms: tuple[str, ...]
    # (term, offset) pairs over the phrase's raw token stream —
    # identical contract to mode='phrase' qoffsets
    qoffsets: tuple[tuple[str, int], ...]


@dataclass(frozen=True)
class And:
    pos: tuple = ()
    neg: tuple = ()


@dataclass(frozen=True)
class Or:
    children: tuple = ()


@dataclass
class ParsedQuery:
    root: object  # Term | Phrase | And | Or | None (None: matches nothing)
    pos_terms: list[str] = field(default_factory=list)  # sorted distinct
    neg_terms: list[str] = field(default_factory=list)
    phrase_terms: list[str] = field(default_factory=list)  # sorted distinct
    has_prefix: bool = False  # Prefix atoms present: rewrite before eval

    @property
    def has_phrase(self) -> bool:
        return bool(self.phrase_terms)


_TOK = re.compile(r'"([^"]*)"|(\()|(\))|([^\s()"]+)')


def _lex_query(q: str) -> list[tuple[str, str]]:
    out = []
    for m in _TOK.finditer(q or ""):
        quoted, lp, rp, word = m.groups()
        if quoted is not None:
            out.append(("PHRASE", quoted))
        elif lp:
            out.append(("LP", "("))
        elif rp:
            out.append(("RP", ")"))
        else:
            up = word.upper()
            if up in ("AND", "OR", "NOT"):
                out.append((up, word))
            else:
                out.append(("WORD", word))
    return out


class _Parser:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0

    def peek(self):
        return self.toks[self.i][0] if self.i < len(self.toks) else None

    def take(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    # expr := and_ex (OR and_ex)*
    def expr(self):
        children = [self.and_ex()]
        while self.peek() == "OR":
            self.take()
            children.append(self.and_ex())
        kept = [c for c in children if c is not None]
        if not kept:
            return None
        for c in kept:
            if isinstance(c, And) and not c.pos:
                raise ValueError(
                    "pure-negative OR branch: NOT needs a positive atom "
                    "in its own AND group"
                )
        if len(kept) == 1:
            return kept[0]
        flat = []
        for c in kept:
            flat.extend(c.children if isinstance(c, Or) else (c,))
        return Or(tuple(flat))

    # and_ex := unary (AND? unary)*; NOT folds into the group's neg side
    def and_ex(self):
        pos, neg = [], []

        def add(node, negated):
            if node is None:
                return
            if isinstance(node, And) and not negated:
                pos.extend(node.pos)
                neg.extend(node.neg)
            elif isinstance(node, And) and negated:
                if node.neg or len(node.pos) != 1:
                    # NOT (a AND NOT b) / NOT (a b): keep as opaque unit
                    neg.append(node)
                else:
                    neg.append(node.pos[0])
            else:
                (neg if negated else pos).append(node)

        negated, node = self.unary()
        add(node, negated)
        while self.peek() in ("AND", "NOT", "LP", "WORD", "PHRASE"):
            if self.peek() == "AND":
                self.take()
            negated, node = self.unary()
            add(node, negated)
        if not pos and not neg:
            return None
        if not pos:
            raise ValueError(
                "pure-negative query group (only NOT atoms); add at "
                "least one positive term"
            )
        if len(pos) == 1 and not neg:
            return pos[0]
        return And(tuple(pos), tuple(neg))

    # unary := NOT unary | atom  -> (negated, node)
    def unary(self):
        neg = False
        while self.peek() == "NOT":
            self.take()
            neg = not neg
        return neg, self.atom()

    def atom(self):
        kind = self.peek()
        if kind is None:
            raise ValueError("unexpected end of query (dangling operator)")
        if kind == "LP":
            self.take()
            node = self.expr()
            if self.peek() != "RP":
                raise ValueError("unbalanced parenthesis in query")
            self.take()
            return node
        if kind == "RP":
            raise ValueError("unbalanced parenthesis in query")
        if kind in ("AND", "OR"):
            raise ValueError(f"operator {kind} where an atom was expected")
        tok, val = self.take()
        if tok == "WORD" and val.endswith("*"):
            stem = val[:-1]
            if "*" in stem or not stem:
                raise ValueError(
                    f"bad wildcard {val!r}: a single trailing * after a "
                    "non-empty prefix is the only supported form"
                )
            return Prefix(stem.lower())
        if tok == "PHRASE":
            terms = tuple(sorted(set(tokenize(val))))
            if not terms:
                return None
            qoff = tuple(
                (t, int(o))
                for t, offs in sorted(term_occurrences(val).items())
                for o in offs
            )
            return Phrase(val, terms, qoff)
        terms = tokenize(val)
        if not terms:
            return None  # stop-word atom: neutral
        if len(set(terms)) == 1:
            return Term(terms[0])
        return And(tuple(Term(t) for t in sorted(set(terms))), ())


def _collect(node, pos: set, neg: set, under_not: bool, flags: dict):
    if node is None:
        return
    if isinstance(node, Term):
        (neg if under_not else pos).add(node.term)
    elif isinstance(node, Prefix):
        flags["prefix"] = True
    elif isinstance(node, Phrase):
        flags["phrase"].update(node.terms)
        (neg if under_not else pos).update(node.terms)
    elif isinstance(node, And):
        for c in node.pos:
            _collect(c, pos, neg, under_not, flags)
        for c in node.neg:
            _collect(c, pos, neg, not under_not, flags)
    elif isinstance(node, Or):
        for c in node.children:
            _collect(c, pos, neg, under_not, flags)


def parse(query: str) -> ParsedQuery:
    """Parse a boolean query. Raises ValueError on syntax errors and on
    pure-negative queries. A query that collapses to nothing (empty /
    stop-words only) returns root=None: it matches no documents."""
    toks = _lex_query(query)
    if not toks:
        return ParsedQuery(None)
    p = _Parser(toks)
    root = p.expr()
    if p.i < len(p.toks):
        raise ValueError("unbalanced parenthesis in query")
    return from_root(root)


def from_root(root) -> ParsedQuery:
    """Re-derive the term inventory of an AST (used after prefix
    rewriting turns Prefix atoms into Or-of-Term groups)."""
    pos: set[str] = set()
    neg: set[str] = set()
    flags = {"phrase": set(), "prefix": False}
    _collect(root, pos, neg, False, flags)
    return ParsedQuery(root, sorted(pos), sorted(neg),
                       sorted(flags["phrase"]), flags["prefix"])


def cap_expansions(pairs: list[tuple[str, int]],
                   cap: int = MAX_PREFIX_EXPANSIONS) -> list[str]:
    """Shared bounded-rewrite rule: (term, df) pairs -> at most ``cap``
    terms, keeping the highest-df ones (deterministic (-df, term)
    order), returned term-sorted. Engine and oracle both route their
    own dictionaries through this so a capped expansion stays
    rank-identical between them."""
    if len(pairs) > cap:
        pairs = sorted(pairs, key=lambda p: (-p[1], p[0]))[:cap]
    return sorted(t for t, _ in pairs)


def rewrite_prefixes(node, expander):
    """Replace every Prefix atom with an Or of Terms via
    ``expander(prefix) -> list[str]`` (already capped). A prefix
    matching nothing becomes the empty Or — an empty SET, not a
    vanished atom: 'zz* AND x' matches nothing, unlike a dropped
    stop-word."""
    if node is None or isinstance(node, (Term, Phrase)):
        return node
    if isinstance(node, Prefix):
        terms = expander(node.prefix)
        if len(terms) == 1:
            return Term(terms[0])
        return Or(tuple(Term(t) for t in terms))
    if isinstance(node, And):
        return And(
            tuple(rewrite_prefixes(c, expander) for c in node.pos),
            tuple(rewrite_prefixes(c, expander) for c in node.neg),
        )
    if isinstance(node, Or):
        return Or(tuple(rewrite_prefixes(c, expander)
                        for c in node.children))
    raise TypeError(f"unknown node {node!r}")


# -- set-algebra evaluation (engine side) --------------------------------


def eval_docs(node, term_docs, phrase_fn) -> np.ndarray:
    """Evaluate an AST to a sorted int64 doc_id array.

    ``term_docs``: term -> sorted doc array (missing/df=0 -> empty);
    ``phrase_fn``: Phrase -> sorted doc array (positional verify).
    Negation is evaluated only inside And (parser guarantees that)."""
    empty = np.empty(0, dtype=np.int64)
    if node is None:
        return empty
    if isinstance(node, Prefix):
        raise ValueError(
            f"unexpanded prefix {node.prefix!r}*: rewrite_prefixes must "
            "run before evaluation"
        )
    if isinstance(node, Term):
        return term_docs.get(node.term, empty)
    if isinstance(node, Phrase):
        return phrase_fn(node)
    if isinstance(node, Or):
        parts = [eval_docs(c, term_docs, phrase_fn) for c in node.children]
        parts = [p for p in parts if p.size]
        if not parts:
            return empty
        return np.unique(np.concatenate(parts))
    if isinstance(node, And):
        parts = sorted(
            (eval_docs(c, term_docs, phrase_fn) for c in node.pos),
            key=lambda a: a.size,
        )
        cand = parts[0]
        for p in parts[1:]:
            if cand.size == 0:
                return empty
            cand = cand[np.isin(cand, p, assume_unique=True)]
        for c in node.neg:
            if cand.size == 0:
                return empty
            cand = cand[~np.isin(cand, eval_docs(c, term_docs, phrase_fn),
                                 assume_unique=True)]
        return cand
    raise TypeError(f"unknown node {node!r}")

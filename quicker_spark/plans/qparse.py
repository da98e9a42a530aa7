"""Lucene-style query-string parser: one string in, one engine call out.

The reference's API takes a structured ``TermQuery`` tree over gRPC
(reference: api/term_query.proto:9-13); end users of a search service
type STRINGS. This module is the missing front door — the classic
Lucene / Elasticsearch ``query_string`` syntax compiled onto the
engine's existing certified primitives, adding NO new scoring code:

    merge +table -spark quer* content:tabl~1 "hash table"~2 lang:py^2

Supported syntax (the Lucene classic-parser subset that maps exactly):

- bare words, ``field:word`` (default field configurable), and
  field-scoped groups ``field:(a b OR c)`` — the field applies to
  every leaf inside without one of its own
- ``+word`` must, ``-word`` / ``NOT word`` must_not
- ``AND`` / ``&&``, ``OR`` / ``||``, parentheses; implicit adjacency
  uses the default operator (OR, like Lucene)
- ``word~`` / ``word~1`` fuzzy (Levenshtein, default 2 edits)
- ``wo?d*`` wildcards (a single trailing ``*`` routes to the cheaper
  anchored prefix expansion)
- ``/s[ct][a-z]+/`` whole-term regexp
- ``"exact phrase"`` and ``"ordered proximity"~3``
- ``clause^2.5`` boost (positive, per Lucene boost semantics)

Occur semantics are compiled EXACTLY, not approximated. A boolean level
with musts M, shoulds S, must_nots N becomes

    tree   = And(*M)                      when no S
           = Or(*S)                       when no M
           = And(*M, Or(*S, *M))          mixed
    exclude = Or(*N)

The mixed form is the load-bearing trick: the engine's TAAT scorer
takes candidates from the boolean tree but scores EVERY query term a
candidate contains (engine.py search; certified by ``bm25_nested_top10``),
so ``And(*M, Or(*S, *M))`` has candidates = "docs matching all musts"
(the ``Or`` is implied by the musts) while shoulds still contribute
score when present — precisely Lucene's
``[MUST m..., SHOULD s...]`` BooleanQuery contract.

Nested ``must_not`` compiles onto the kernels' in-tree ``AndNot``
evaluation (top-level negation keeps the engine's certified global
``exclude`` argument — identical semantics). A PHRASE may appear as
any clause: it compiles to a pseudo-leaf whose per-segment candidate
array is the phrase's adjacency match set from the positional sidecar
(engine ``phrases=``); its scoring contract is the engine's documented
one — a phrase scores as its distinct words' BM25 sum, and under this
engine's TAAT contract a candidate recalled by ANY clause is scored
over every query word it contains.

Lucene edge semantics compiled exactly (not silently approximated):
- a MUST clause whose multi-term expansion matches NO dictionary term
  makes the whole level match NOTHING (``Compiled.match_none``) — the
  Empty-pruning combinators alone would silently drop the constraint;
- a nested group with only negative clauses matches nothing (Lucene's
  pure-prohibited BooleanQuery); top-level pure negation stays a loud
  ``QueryParseError`` (nothing to rank);
- fuzzy expansion uses ``prefix_len=0`` — Lucene FuzzyQuery's default
  (an edit may change the first character).

Restriction that remains: ``min_should_match``/pruned-mode arguments
keep their flat-query contracts (engine-level, unchanged).

Multi-term expansions (fuzzy/wildcard/regexp/prefix) happen at compile
time against the term dictionary (engine.TermDictionary.expand_*:
anchored string-range slices of ``term_stats``, read without a Spark
job), then the whole request runs as ONE scored search — same plan
shape as any other query.

Every string compiles to one ``search`` call — a lone phrase is a
phrase clause like any other, so its boost, the paging cursor and the
quorum check apply to it as to any query.

The compiler is duck-typed over BOTH serving tiers: `SearchEngine`
(Spark scatter-gather) and `serving.LocalSearcher` (resident
point-query tier), which share the expand_* implementation and expose
the same search surface — the same string returns bitwise-identical
rankings from either (tests/test_local_serving.py), phrases included
(both read the positional sidecar).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

from quicker_spark.plans.term_query import (And, AndNot, NewTermQuery,
                                            Or, TermQuery)

SHOULD, MUST, MUST_NOT = "SHOULD", "MUST", "MUST_NOT"

_BARE_RE = re.compile(r'[^\s()"/^~]+')
_NUM_RE = re.compile(r"\d+(?:\.\d+)?")
_INT_RE = re.compile(r"\d+")


class QueryParseError(ValueError):
    pass


@dataclass(frozen=True)
class Leaf:
    """kind: term | phrase | fuzzy | wildcard | prefix | regexp."""
    kind: str
    field: str | None          # None -> default field at compile time
    text: tuple                # words tuple (phrase) or (pattern/word,)
    param: int = 0             # gap (phrase) / max_edits (fuzzy)
    boost: float = 1.0


@dataclass(frozen=True)
class Bool:
    op: str                    # "AND" | "OR"
    clauses: tuple = dc_field(default_factory=tuple)  # (occur, node)


# -- lexer ---------------------------------------------------------------


def _lex(qs: str) -> list:
    """Tokens: '(' ')' 'AND' 'OR' 'NOT' '+' '-' and Leaf prototypes."""
    toks: list = []
    i, n = 0, len(qs)
    while i < n:
        c = qs[i]
        if c.isspace():
            i += 1
            continue
        if c in "()":
            toks.append(c)
            i += 1
            continue
        if c in "+-" and i + 1 < n and not qs[i + 1].isspace() \
                and qs[i + 1] not in ")":
            toks.append(c)
            i += 1
            continue
        if qs.startswith("&&", i):
            toks.append("AND")
            i += 2
            continue
        if qs.startswith("||", i):
            toks.append("OR")
            i += 2
            continue
        if c == '"':
            j = qs.find('"', i + 1)
            if j < 0:
                raise QueryParseError(f"unterminated phrase at {i}: {qs!r}")
            words = tuple(w for w in re.findall(r"[a-z0-9_]+",
                                                qs[i + 1:j].lower()))
            i = j + 1
            gap = 0
            if i < n and qs[i] == "~":
                m = _INT_RE.match(qs, i + 1)
                if not m:
                    raise QueryParseError(
                        f"phrase proximity needs an integer at {i}: {qs!r}")
                gap, i = int(m.group()), m.end()
            leaf = Leaf("phrase", None, words, param=gap)
            leaf, i = _suffix_boost(leaf, qs, i)
            toks.append(leaf)
            continue
        if c == "/":
            j = qs.find("/", i + 1)
            if j < 0:
                raise QueryParseError(f"unterminated regexp at {i}: {qs!r}")
            leaf = Leaf("regexp", None, (qs[i + 1:j],))
            leaf, i = _suffix_boost(leaf, qs, j + 1)
            toks.append(leaf)
            continue
        m = _BARE_RE.match(qs, i)
        if not m:
            raise QueryParseError(f"unexpected character {c!r} at {i}")
        word, i = m.group(), m.end()
        if word in ("AND", "OR", "NOT"):
            toks.append(word)
            continue
        fieldname = None
        if ":" in word:
            fieldname, _, word = word.partition(":")
            if not fieldname:
                raise QueryParseError(f"bad field clause {m.group()!r}")
            if not word:
                # field:(...) — Lucene field-scoped group: the field
                # applies to every leaf inside that has no explicit
                # field of its own
                if i < n and qs[i] == "(":
                    toks.append(("FIELD", fieldname))
                    continue
                # field:/regex/ or field:"phrase" — the bare token
                # stopped at the delimiter
                if i < n and qs[i] == "/":
                    j = qs.find("/", i + 1)
                    if j < 0:
                        raise QueryParseError(
                            f"unterminated regexp: {qs!r}")
                    leaf = Leaf("regexp", fieldname, (qs[i + 1:j],))
                    leaf, i = _suffix_boost(leaf, qs, j + 1)
                    toks.append(leaf)
                    continue
                if i < n and qs[i] == '"':
                    j = qs.find('"', i + 1)
                    if j < 0:
                        raise QueryParseError(
                            f"unterminated phrase: {qs!r}")
                    words = tuple(re.findall(r"[a-z0-9_]+",
                                             qs[i + 1:j].lower()))
                    i = j + 1
                    gap = 0
                    if i < n and qs[i] == "~":
                        m2 = _INT_RE.match(qs, i + 1)
                        if not m2:
                            raise QueryParseError(
                                "phrase proximity needs an integer")
                        gap, i = int(m2.group()), m2.end()
                    leaf = Leaf("phrase", fieldname, words, param=gap)
                    leaf, i = _suffix_boost(leaf, qs, i)
                    toks.append(leaf)
                    continue
                raise QueryParseError(f"bad field clause {m.group()!r}")
        edits = None
        if i < n and qs[i] == "~":
            m2 = _INT_RE.match(qs, i + 1)
            if m2:
                edits, i = int(m2.group()), m2.end()
            else:
                edits, i = 2, i + 1     # bare ~ = Lucene default 2
        lw = word.lower()
        if "*" in lw or "?" in lw:
            if edits is not None:
                raise QueryParseError(
                    f"cannot combine wildcard and fuzzy in {word!r}")
            if lw == "*" or lw == "?":
                raise QueryParseError("bare wildcard matches everything")
            if lw.endswith("*") and "*" not in lw[:-1] and "?" not in lw:
                leaf = Leaf("prefix", fieldname, (lw[:-1],))
            else:
                leaf = Leaf("wildcard", fieldname, (lw,))
        elif edits is not None:
            leaf = Leaf("fuzzy", fieldname, (lw,), param=edits)
        else:
            if not re.fullmatch(r"[a-z0-9_]+", lw):
                raise QueryParseError(
                    f"term {word!r} is not a single token "
                    "(tokenizer alphabet is [a-z0-9_])")
            leaf = Leaf("term", fieldname, (lw,))
        leaf, i = _suffix_boost(leaf, qs, i)
        toks.append(leaf)
    return toks


def _suffix_boost(leaf: Leaf, qs: str, i: int) -> tuple:
    if i < len(qs) and qs[i] == "^":
        m = _NUM_RE.match(qs, i + 1)
        if not m:
            raise QueryParseError(f"boost needs a number at {i}: {qs!r}")
        b = float(m.group())
        if b <= 0:
            raise QueryParseError(f"boost must be > 0, got {b}")
        return Leaf(leaf.kind, leaf.field, leaf.text, leaf.param, b), m.end()
    return leaf, i


# -- recursive-descent parser ---------------------------------------------
# precedence: OR < AND < (implicit adjacency = default_op) < unary +/-/NOT


class _Parser:
    def __init__(self, toks: list, default_op: str):
        self.toks = toks
        self.pos = 0
        self.default_op = default_op

    def peek(self):
        return self.toks[self.pos] if self.pos < len(self.toks) else None

    def take(self):
        t = self.peek()
        self.pos += 1
        return t

    def parse(self):
        node = self.or_expr()
        if self.peek() is not None:
            raise QueryParseError(f"trailing input at token {self.peek()!r}")
        return node

    def or_expr(self):
        parts = [self.and_expr()]
        while self.peek() == "OR":
            self.take()
            parts.append(self.and_expr())
        if len(parts) == 1:
            return parts[0]
        return _merge("OR", parts)

    def and_expr(self):
        parts = [self.adj_expr()]
        while self.peek() == "AND":
            self.take()
            parts.append(self.adj_expr())
        if len(parts) == 1:
            return parts[0]
        return _merge("AND", parts)

    def adj_expr(self):
        parts = [self.unary()]
        while True:
            t = self.peek()
            if t is None or t in ("OR", "AND", ")"):
                break
            parts.append(self.unary())
        if len(parts) == 1:
            occur, node = parts[0]
            if occur == SHOULD:
                return node
            return Bool(self.default_op, (parts[0],))
        return Bool(self.default_op, tuple(parts))

    def unary(self):
        t = self.peek()
        if t == "+":
            self.take()
            return (MUST, self.atom())
        if t in ("-", "NOT"):
            self.take()
            return (MUST_NOT, self.atom())
        return (SHOULD, self.atom())

    def atom(self):
        t = self.take()
        if t == "(":
            node = self.or_expr()
            if self.take() != ")":
                raise QueryParseError("unbalanced parentheses")
            return node
        if isinstance(t, tuple) and t[0] == "FIELD":
            # field-scoped group: field:(...) — scope the field onto
            # every leaf inside that has none of its own (Lucene
            # classic-parser semantics)
            if self.take() != "(":
                raise QueryParseError(
                    f"field clause {t[1]!r}: expected '(' group")
            node = self.or_expr()
            if self.take() != ")":
                raise QueryParseError("unbalanced parentheses")
            return _scope_field(node, t[1])
        if isinstance(t, Leaf):
            return t
        raise QueryParseError(f"unexpected token {t!r}")


def _scope_field(node, f: str):
    """Apply a field-group's field to every leaf without one."""
    if isinstance(node, Leaf):
        if node.field is None:
            return Leaf(node.kind, f, node.text, node.param, node.boost)
        return node
    if isinstance(node, tuple):        # (occur, node) from unary
        return (node[0], _scope_field(node[1], f))
    return Bool(node.op, tuple((o, _scope_field(c, f))
                               for o, c in node.clauses))


def _merge(op: str, parts: list) -> Bool:
    """Combine adjacency-level results under an explicit AND/OR,
    flattening same-op Bool children; under AND every direct operand is
    a MUST (Lucene: explicit AND promotes both sides)."""
    clauses = []
    for p in parts:
        if isinstance(p, Bool) and len(p.clauses) == 1:
            # unwrap a single-clause wrapper (e.g. `-b` from adj_expr)
            # so its occur marker survives the merge — `a AND -b` keeps
            # the must_not at the level it was written
            p = p.clauses[0]
        if isinstance(p, tuple):            # (occur, node) from unary
            occur, node = p
            if op == "AND" and occur == SHOULD:
                occur = MUST
            clauses.append((occur, node))
        elif isinstance(p, Bool) and p.op == op:
            clauses.extend(p.clauses)
        else:
            clauses.append((MUST if op == "AND" else SHOULD, p))
    return Bool(op, tuple(clauses))


def parse(qs: str, default_op: str = "OR"):
    """Parse a query string to the (Bool | Leaf) AST."""
    if default_op not in ("AND", "OR"):
        raise QueryParseError(f"default_op must be AND or OR: {default_op}")
    toks = _lex(qs)
    if not toks:
        raise QueryParseError("empty query string")
    parsed = _Parser(toks, default_op).parse()
    if isinstance(parsed, tuple):   # bare single unary at top level
        parsed = Bool(default_op, (parsed,))
    return parsed


# -- compile onto the engine ----------------------------------------------


@dataclass
class Compiled:
    tree: TermQuery | None = None
    boosts: dict = dc_field(default_factory=dict)
    exclude: TermQuery | None = None
    phrases: tuple = ()                 # PhraseSpec clauses (pseudo-leaves)
    match_none: bool = False            # Lucene: empty MUST expansion


# sentinel: a subtree that PROVABLY matches no document (a MUST clause
# whose dictionary expansion came up empty). Lucene's BooleanQuery
# returns zero hits for the whole level — silently dropping the clause
# (what Empty-pruning And() would do) would return hits that violate
# the query as written
_MATCH_NONE = object()


class _Ctx:
    """Per-compile state: pseudo-leaf allocation for phrase clauses."""

    def __init__(self):
        self.phrases: list = []
        self._n = 0

    def add_phrase(self, leaf: Leaf, default_field: str,
                   score_words: bool, boosts: dict) -> TermQuery:
        from quicker_spark.engine import PhraseSpec
        if not leaf.text:
            raise QueryParseError(
                "phrase has no tokens under the [a-z0-9_] alphabet")
        key = f"\x02p{self._n}"
        self._n += 1
        f = leaf.field or default_field
        self.phrases.append(
            PhraseSpec(key, f, tuple(leaf.text), int(leaf.param),
                       score_words))
        if score_words and leaf.boost != 1.0:
            # a phrase scores as its distinct words' BM25 sum, so the
            # phrase boost scales each constituent's weight
            for w in leaf.text:
                tk = f"{f}\x01{w}"
                boosts[tk] = max(boosts.get(tk, 0.0), leaf.boost)
        return TermQuery(keyword=key)


def _expand_leaf(eng, leaf: Leaf, default_field: str,
                 boosts: dict, max_expansions: int):
    """Compile a non-phrase leaf; multi-term expansions that match NO
    dictionary term return ``_MATCH_NONE`` (the caller decides: a MUST
    context makes the level match nothing; a SHOULD context drops it)."""
    f = leaf.field or default_field
    if leaf.kind == "term":
        q = NewTermQuery(f, leaf.text[0])
        if leaf.boost != 1.0:
            boosts[q.keyword] = max(boosts.get(q.keyword, 0.0), leaf.boost)
        return q
    if leaf.kind == "prefix":
        keys = eng.expand_prefix(f, leaf.text[0],
                                 max_expansions=max_expansions)
    elif leaf.kind == "fuzzy":
        # prefix_len=0 = Lucene FuzzyQuery's default (edits may change
        # the first character); both tiers' expanders support it — the
        # dictionary slice is the whole field vocabulary, bounded by
        # the per-shard term-stats table
        keys = eng.expand_fuzzy(f, leaf.text[0], max_edits=leaf.param,
                                prefix_len=0,
                                max_expansions=max_expansions)
    elif leaf.kind == "wildcard":
        keys = eng.expand_regexp(
            f, eng.wildcard_to_regexp(leaf.text[0]),
            max_expansions=max_expansions)
    elif leaf.kind == "regexp":
        keys = eng.expand_regexp(f, leaf.text[0],
                                 max_expansions=max_expansions)
    else:  # pragma: no cover — phrases route through _Ctx.add_phrase
        raise QueryParseError(f"phrase not allowed here: {leaf}")
    if not keys:
        return _MATCH_NONE
    # expand_* return full field\x01word term keys
    leaves = [TermQuery(keyword=t) for t in keys]
    if leaf.boost != 1.0:
        for q in leaves:
            boosts[q.keyword] = max(boosts.get(q.keyword, 0.0), leaf.boost)
    return Or(*leaves)


def _compile_node(eng, node, default_field: str, boosts: dict,
                  max_expansions: int, top: bool, ctx: _Ctx,
                  negated: bool = False):
    """Returns (tree | _MATCH_NONE, exclude_or_None).

    Occur compilation per level: musts M, shoulds S, must_nots N ->
    positive part as documented on the module; N becomes the GLOBAL
    exclude at the top level (the engine's certified ``exclude``
    argument) and an in-tree ``AndNot`` at any nested level (the
    kernels' nested-must_not evaluation). A _MATCH_NONE MUST child
    makes the level _MATCH_NONE; _MATCH_NONE SHOULD/NOT children are
    dropped (Lucene BooleanQuery semantics both ways)."""
    if isinstance(node, Leaf):
        if node.kind == "phrase":
            return ctx.add_phrase(node, default_field,
                                  not negated, boosts), None
        return _expand_leaf(eng, node, default_field, boosts,
                            max_expansions), None
    musts, shoulds, nots = [], [], []
    none_must = False
    for occur, child in node.clauses:
        if occur == MUST_NOT:
            sub, _ = _compile_node(eng, child, default_field, {},
                                   max_expansions, top=False, ctx=ctx,
                                   negated=True)
            if sub is not _MATCH_NONE:
                nots.append(sub)
            continue
        sub, _ = _compile_node(eng, child, default_field, boosts,
                               max_expansions, top=False, ctx=ctx,
                               negated=negated)
        if sub is _MATCH_NONE:
            if occur == MUST:
                none_must = True
            continue  # SHOULD: an empty expansion drops
        (musts if occur == MUST else shoulds).append(sub)
    if none_must:
        return _MATCH_NONE, None
    # explicit AND op promotes its direct SHOULD children in _merge, so
    # here shoulds under an AND node can only come from nested parens
    if node.op == "AND" and shoulds:
        musts, shoulds = musts + shoulds, []
    if not musts and not shoulds:
        if nots and top:
            # top-level pure negation: loud error (existing contract)
            return Or(), Or(*nots)
        # nested pure-negative group matches NOTHING (Lucene: a
        # BooleanQuery with only prohibited clauses has no hits) — and
        # so does a level whose every positive clause expanded empty
        return _MATCH_NONE, None
    if musts and shoulds:
        tree = And(*musts, Or(*shoulds, *musts))
    elif musts:
        tree = And(*musts)
    else:
        tree = Or(*shoulds)
    if top:
        return tree, (Or(*nots) if nots else None)
    return (AndNot(tree, *nots) if nots else tree), None


def compile_string(eng, qs: str, default_field: str = "content",
                   default_op: str = "OR",
                   max_expansions: int = 1024) -> Compiled:
    """Parse + compile a query string against an engine's dictionary."""
    node = parse(qs, default_op=default_op)
    boosts: dict = {}
    ctx = _Ctx()
    tree, exclude = _compile_node(eng, node, default_field, boosts,
                                  max_expansions, top=True, ctx=ctx)
    if tree is _MATCH_NONE:
        # some positive clause was WRITTEN but its expansion matches no
        # dictionary term: the query as a whole matches nothing
        # (Lucene MUST semantics) — compiled, not an error
        return Compiled(match_none=True)
    if tree.empty():
        raise QueryParseError(
            f"query {qs!r} has no positive scorable clause (pure "
            "negation) — nothing to rank")
    return Compiled(tree=tree, boosts=boosts, exclude=exclude,
                    phrases=tuple(ctx.phrases))


def search_string(eng, qs: str, k: int = 10,
                  default_field: str = "content", default_op: str = "OR",
                  max_expansions: int = 1024, **search_kw):
    """One-call string search: parse, compile, run the one engine
    request. Returns the engine's (doc_id, score) hits frame."""
    c = compile_string(eng, qs, default_field=default_field,
                       default_op=default_op,
                       max_expansions=max_expansions)
    if c.match_none:
        # an empty tree resolves to the engine's valid-but-matches-
        # nothing path on both tiers (same result schema)
        return eng.search(Or(), k=k, **search_kw)
    return eng.search(c.tree, k=k, boosts=c.boosts or None,
                      exclude=c.exclude, phrases=c.phrases, **search_kw)

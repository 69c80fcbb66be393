"""Lucene-subset ``query_string`` parser (the mini-language the reference
ships to Elasticsearch verbatim — /root/reference/app/helpers/es.py:238-250;
grammar constructs observed across use_cases/examples/*.conf and
documentation/CONFIG_OUTLIERS.md:40-43):

    bare terms            → full-text match on the indexed text (BM25-scored)
    "quoted phrase"       → phrase match
    field:value           → exact match on a column (`.keyword` semantics)
    field:"some phrase"   → exact match, quoted value
    _exists_:field        → field is not null
    field:[a TO b]        → inclusive range; `{a TO b}` exclusive; `*` open
    field:>x  field:<=x   → single-bounded range (also >=, <)
    AND / OR / NOT / -    → boolean composition; parentheses group
    adjacency             → default operator (OR, like ES query_string)

``dsl_to_ast`` additionally accepts the raw ES-DSL dict subset the reference
appends to every model's filter (ref F3, app/helpers/es.py:252-270):
bool / term / terms / range / exists / query_string / match_all.

The AST compiles three ways, all semantically identical:
- ``to_spark_predicate`` — a Spark ``Column`` boolean (filter context, no
  scoring — ref F1 "bool.filter", es.py:664-710),
- ``to_duckdb_sql``     — the DuckDB oracle predicate,
- ``collect_text_terms``— the bag of scored full-text terms/phrases for the
  BM25 top-k path (scoring only applies to text clauses, like ES).

Field resolution is case-insensitive with ``.keyword`` stripped
(ref X8, app/helpers/utils.py:47-76 resolves dotted keys case-insensitively).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from .tokenizer import phrase_regex, tokenize_py, tokens_col, tokens_sql


# --- AST ----------------------------------------------------------------------

@dataclass
class Term:
    text: str
    boost: float = 1.0


@dataclass
class Phrase:
    """Quoted phrase; ``slop`` > 0 is Lucene's sloppy phrase (`"a b"~2`):
    the phrase matches when positions p_i can be chosen for each phrase
    offset o_i with max(p_i - o_i) - min(p_i - o_i) <= slop (the standard
    non-repeating-terms formulation of Lucene's SloppyPhraseScorer edit
    budget — reversed adjacent terms cost 2, one in-order gap costs 1)."""
    text: str
    slop: int = 0
    boost: float = 1.0


@dataclass
class Wildcard:
    """Single-token wildcard over the analyzed text (`fo?bar*`): matches a
    doc containing any token matching the pattern (`*` = any run, `?` = one
    char). The reference ships query_strings verbatim to ES
    (app/helpers/es.py:238-250), so Lucene wildcard terms are part of its
    accepted surface. Index-backed execution expands the pattern against
    the term dictionary (Lucene MultiTermQuery rewrite)."""
    text: str
    boost: float = 1.0


@dataclass
class Regexp:
    """`/pattern/` — single-token regexp over the analyzed text (Lucene
    RegexpQuery through query_string, shipped verbatim to ES by the
    reference): matches a doc containing a token that FULLY matches the
    pattern (Lucene regexps are implicitly anchored). Only the regex
    subset common to Java / RE2 / Python runs identically in all three
    backends — character classes, ., *, +, ?, {m,n}, | and grouping;
    anything else (anchors, backslash escapes, Lucene's ~ complement /
    <> intervals) raises at parse (see ``regexp_token_body``)."""
    pattern: str
    boost: float = 1.0


@dataclass
class FieldRegexp:
    """`field:/pattern/` — anchored regexp on a keyword field value
    (whole-value match, `.keyword` semantics like FieldEq)."""
    field: str
    pattern: str


@dataclass
class Fuzzy:
    """`term~n` — matches a doc containing a token within Levenshtein
    distance ``max_edits`` of the term (classic Levenshtein in all three
    backends; transpositions cost 2, unlike ES's default
    fuzzy_transpositions — documented divergence, kept for backend
    identity). Bare `~` = 2, Lucene's default."""
    text: str
    max_edits: int = 2
    boost: float = 1.0


@dataclass
class FieldWildcard:
    """`field:val*` — wildcard on a keyword field value (whole-value
    pattern match, `.keyword` semantics like FieldEq)."""
    field: str
    pattern: str


@dataclass
class FieldEq:
    """`field:value` exact keyword comparison. ``slop`` records a trailing
    `~n` on a quoted value (`field:"a b"~2`), ``boost`` a trailing `^n` —
    both meaningful only when the field resolves analyzed
    (``resolve_analyzed`` → FieldText phrase slop / BM25 boost); on a true
    keyword field they are scoring no-ops (filter context), like ES."""
    field: str
    value: str
    slop: int = 0
    boost: float = 1.0


@dataclass
class FieldText:
    """`field:value` against an ANALYZED text field (ES mapping-driven
    semantics: every text field is analyzed, and `field:value` searches the
    analyzed terms unless `.keyword` — the reference's query strings search
    analyzed fields like `OsqueryFilter.cmdline:"-W hidden"`,
    /root/reference/app/helpers/es.py:238-250 + use_cases/examples/*.conf).
    One token = term query, several = phrase (match_phrase). The node is
    produced by ``resolve_analyzed`` — only for fields the target index
    declares analyzed (stats.json ``analyzed_fields``), mirroring how ES
    consults the mapping; the index stores the field's terms as
    ``field:token`` dictionary entries (Lucene per-field terms), so the
    atom resolves index-backed like any text atom. Scoring semantics:
    BM25 with the PER-FIELD df AND the field's OWN length norm — the
    field's docCount drives idf and the field's dl/avgdl the length
    normalization (Lucene per-field similarity: .nvd norms + per-field
    collection stats), read from the per-field ``field:`` doclen sidecar
    rows and stats.json ``field_stats``. The DuckDB/Python oracles
    implement the identical formula."""
    field: str
    text: str
    slop: int = 0
    boost: float = 1.0


def qualify_tokens(field: str, text: str) -> list[str]:
    """Lucene-style per-field dictionary terms: `field:token`. Plain tokens
    are [a-z0-9]+ so the ':' can never collide with a main-text term."""
    return [f"{field.lower()}:{t}" for t in tokenize_py(text)]


def resolve_analyzed(node, analyzed_fields) -> object:
    """Rewrite FieldEq atoms whose field is analyzed in the target index
    into FieldText (the ES mapping consultation step). `.keyword` keeps
    exact raw equality, non-analyzed fields keep FieldEq."""
    fields = {f.lower() for f in (analyzed_fields or ())}
    if not fields:
        return node
    if isinstance(node, FieldEq):
        if (not node.field.endswith(".keyword")
                and node.field.lower() in fields):
            return FieldText(node.field, node.value, slop=node.slop,
                             boost=node.boost)
        return node
    if isinstance(node, And):
        return And([resolve_analyzed(p, fields) for p in node.parts])
    if isinstance(node, Or):
        return Or([resolve_analyzed(p, fields) for p in node.parts])
    if isinstance(node, Not):
        return Not(resolve_analyzed(node.part, fields))
    return node


@dataclass
class Exists:
    field: str


@dataclass
class FieldRange:
    """Range predicate (ref F3; Lucene `field:[a TO b]`, ES `range` DSL).
    ``lo``/``hi`` of None = unbounded (`*`); both None = exists-check."""
    field: str
    lo: str | None
    hi: str | None
    lo_inc: bool = True
    hi_inc: bool = True


@dataclass
class And:
    parts: list


@dataclass
class Or:
    parts: list


@dataclass
class Not:
    part: object


@dataclass
class MatchAll:
    pass


# --- lexer ---------------------------------------------------------------------

_TOKEN_SPEC = re.compile(
    r"""\s*(?:
        (?P<lparen>\() |
        (?P<rparen>\)) |
        (?P<lbrack>\[) |
        (?P<rbrack>\]) |
        (?P<lbrace>\{) |
        (?P<rbrace>\}) |
        (?P<cmp>>=|<=|>|<) |
        (?P<quoted>"(?P<qbody>[^"]*)") |
        (?P<regex>/(?P<rebody>[^/]*)/) |
        (?P<neg>-) |
        (?P<fuzz>~(?P<fuzznum>\d+)?) |
        (?P<boost>\^(?P<boostnum>\d+(\.\d+)?)?) |
        (?P<word>[^\s()\[\]{}"<>:~^]+) |
        (?P<colon>:)
    )""",
    re.VERBOSE,
)

_LEX_KINDS = ("lparen", "rparen", "lbrack", "rbrack", "lbrace", "rbrace",
              "cmp", "neg", "fuzz", "boost", "word", "colon")


def _lex(s: str) -> list[tuple[str, str]]:
    out = []
    i = 0
    while i < len(s):
        m = _TOKEN_SPEC.match(s, i)
        if not m:
            raise ValueError(f"query_string lex error at {i}: {s[i:]!r}")
        i = m.end()
        if m.lastgroup is None:
            continue
        for g in _LEX_KINDS:
            if m.group(g):
                out.append((g, m.group(g)))
                break
        else:
            if m.group("quoted") is not None:
                out.append(("quoted", m.group("qbody")))
            elif m.group("regex") is not None:
                out.append(("regex", m.group("rebody")))
    return out


# --- parser (recursive descent) -------------------------------------------------

#: Deepest nesting of groups and NOTs a query_string may have. Every AST
#: walker recurses once per level, so a bound here keeps them all inside
#: Python's recursion limit.
MAX_NESTING = 100


class _Parser:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0
        self.depth = 0

    def nest(self, parse):
        """``parse()`` one nesting level deeper, or ValueError past
        ``MAX_NESTING`` levels."""
        if self.depth >= MAX_NESTING:
            raise ValueError(
                f"query_string nests deeper than {MAX_NESTING} levels")
        self.depth += 1
        node = parse()
        self.depth -= 1
        return node

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def take(self):
        t = self.peek()
        self.i += 1
        return t

    def parse(self):
        node = self.or_expr()
        if self.i != len(self.toks):
            raise ValueError(f"trailing tokens: {self.toks[self.i:]}")
        return node

    def or_expr(self):
        parts = [self.and_expr()]
        while True:
            kind, val = self.peek()
            if kind == "word" and val.upper() == "OR":
                self.take()
                parts.append(self.and_expr())
            elif kind in ("lparen", "quoted", "neg", "word", "regex") and not (
                kind == "word" and val.upper() in ("AND", "OR")
            ):
                # adjacency → default operator OR (ES query_string default);
                # a leading NOT/'-' starts a new unary operand
                parts.append(self.and_expr())
            else:
                break
        if len(parts) == 1:
            return parts[0]
        # Lucene bool semantics at the SHOULD level: a NOT-prefixed operand
        # is a PROHIBITED clause of the enclosing bool query, not one of the
        # OR alternatives — 'a NOT b' (and 'a OR NOT b') means docs matching
        # a AND lacking b (SHOULD(a) + MUST_NOT(b); with no MUST clauses at
        # least one SHOULD must match). Treating it as Or(a, Not(b)) would
        # admit docs matching neither.
        pos = [p for p in parts if not isinstance(p, Not)]
        neg = [p for p in parts if isinstance(p, Not)]
        if not neg:
            return Or(parts)
        out: list = []
        if pos:
            out.append(pos[0] if len(pos) == 1 else Or(pos))
        out.extend(neg)
        return out[0] if len(out) == 1 else And(out)

    def and_expr(self):
        parts = [self.unary()]
        while True:
            kind, val = self.peek()
            if kind == "word" and val.upper() == "AND":
                self.take()
                parts.append(self.unary())
            else:
                break
        return parts[0] if len(parts) == 1 else And(parts)

    def unary(self):
        kind, val = self.peek()
        if kind == "neg" or (kind == "word" and val.upper() == "NOT"):
            self.take()
            return Not(self.nest(self.unary))
        node = self.atom()
        nk, nv = self.peek()
        if nk == "boost":
            # Lucene boost binds to the preceding atom or (group): scales
            # the BM25 contribution of every text atom underneath; field/
            # negated clauses are filter-only so boost is a scoring no-op
            self.take()
            if len(nv) == 1:
                raise ValueError("boost (^) requires a number")
            node = _apply_boost(node, float(nv[1:]))
        return node

    def atom(self):
        kind, val = self.take()
        if kind == "lparen":
            node = self.nest(self.or_expr)
            k2, _ = self.take()
            if k2 != "rparen":
                raise ValueError("unbalanced parentheses")
            return node
        if kind == "quoted":
            nk, nv = self.peek()
            if nk == "fuzz":
                self.take()
                # `"a b"~n` — phrase slop (bare `~` after a phrase = 0,
                # matching ES's phrase_slop default)
                return Phrase(val, slop=int(nv[1:]) if len(nv) > 1 else 0)
            return Phrase(val)
        if kind == "regex":
            regexp_token_body(val)  # validate the dialect at parse time
            return Regexp(val)
        if kind == "word":
            nk, _ = self.peek()
            if nk == "colon":
                self.take()
                vk, vv = self.peek()
                if vk == "lparen":
                    # Lucene field grouping: `lang:(en OR de)` scopes every
                    # value atom in the group to the field
                    self.take()
                    inner = self.nest(self.or_expr)
                    ck, _ = self.take()
                    if ck != "rparen":
                        raise ValueError(
                            f"unbalanced parentheses in {val}:(...)")
                    return _scope_to_field(inner, val)
                if vk in ("lbrack", "lbrace"):
                    return self._range(val)
                if vk == "cmp":
                    self.take()
                    v = self._range_value(allow_star=False)
                    lo_inc = vv == ">="
                    hi_inc = vv == "<="
                    if vv in (">", ">="):
                        return FieldRange(val, v, None, lo_inc, True)
                    return FieldRange(val, None, v, True, hi_inc)
                vk, vv = self.take()
                if vk == "regex":
                    # keyword semantics: case-preserving (like FieldEq)
                    regexp_token_body(vv, lower=False)
                    return FieldRegexp(val, vv)
                if vk == "quoted":
                    if val == "_exists_":
                        return Exists(vv)
                    nk2, nv2 = self.peek()
                    if nk2 == "fuzz":
                        # `field:"a b"~n` — phrase slop on an analyzed
                        # field (resolve_analyzed); ignored for keywords
                        self.take()
                        return FieldEq(
                            val, vv,
                            slop=int(nv2[1:]) if len(nv2) > 1 else 0)
                    return FieldEq(val, vv)
                if vk == "word":
                    if val == "_exists_":
                        return Exists(vv)
                    if vv == "*":
                        return Exists(val)  # `field:*` = exists (Lucene)
                    if "*" in vv or "?" in vv:
                        return FieldWildcard(val, vv)
                    return FieldEq(val, vv)
                if vk == "neg":
                    # negative numeric value: glue '-' to the next word
                    wk, wv = self.take()
                    if wk != "word":
                        raise ValueError(f"bad field value after {val}:-")
                    return FieldEq(val, "-" + wv)
                raise ValueError(f"bad field value after {val}:")
            if val.upper() in ("AND", "OR", "NOT"):
                # bare boolean operator with no operand (ES rejects these);
                # a FIELD named and/or/not is fine — that path has a colon
                raise ValueError(f"operator {val} used without operands")
            if nk == "fuzz":
                _, fv = self.take()
                # Lucene `term~` defaults to 2 edits; ES caps fuzziness at 2
                return Fuzzy(val, min(int(fv[1:]) if len(fv) > 1 else 2, 2))
            if val == "*":
                return MatchAll()  # bare `*` = match_all (ES query_string)
            if "*" in val or "?" in val:
                return Wildcard(val)
            return Term(val)
        raise ValueError(f"unexpected token {kind}:{val}")

    def _range_value(self, allow_star: bool = True) -> str | None:
        """One range bound: word, quoted, '-'-prefixed number, or '*'."""
        vk, vv = self.take()
        if vk == "neg":
            wk, wv = self.take()
            if wk != "word":
                raise ValueError("bad range bound after '-'")
            return "-" + wv
        if vk == "quoted":
            return vv
        if vk == "word":
            if vv == "*" and allow_star:
                return None
            return vv
        raise ValueError(f"bad range bound {vk}:{vv}")

    def _range(self, field: str):
        """`[a TO b]` / `{a TO b}` — closing bracket chosen independently
        (Lucene allows mixed `[a TO b}`); `*` = open bound."""
        ok, _ = self.take()
        lo_inc = ok == "lbrack"
        lo = self._range_value()
        tk, tv = self.take()
        if tk != "word" or tv.upper() != "TO":
            raise ValueError(f"expected TO in range for {field}")
        hi = self._range_value()
        ck, _ = self.take()
        if ck not in ("rbrack", "rbrace"):
            raise ValueError(f"unterminated range for {field}")
        return FieldRange(field, lo, hi, lo_inc, ck == "rbrack")


def _apply_boost(node, b: float):
    """Distribute a Lucene boost over the node's positive text atoms —
    score contributions are summed, so `(a b)^2` ≡ `a^2 b^2` exactly."""
    from dataclasses import replace as _replace

    if isinstance(node, (Term, Phrase, Wildcard, Fuzzy, Regexp, FieldText,
                         FieldEq)):
        # FieldEq keeps the boost so a later analyzed-field resolution
        # (FieldText) can score it; unresolved keyword FieldEq stays
        # filter-only and the boost is a no-op
        return _replace(node, boost=node.boost * b)
    if isinstance(node, And):
        return And([_apply_boost(p, b) for p in node.parts])
    if isinstance(node, Or):
        return Or([_apply_boost(p, b) for p in node.parts])
    return node  # Not / field atoms / ranges: filter-only, boost is no-op


def _scope_to_field(node, field: str):
    """Rewrite the value atoms of a Lucene field group (`field:(a OR "b c"
    OR pat*)`) to field predicates; boolean structure is preserved."""
    if isinstance(node, (Term, Phrase)):
        return FieldEq(field, node.text)
    if isinstance(node, Wildcard):
        return FieldWildcard(field, node.text)
    if isinstance(node, Regexp):
        return FieldRegexp(field, node.pattern)
    if isinstance(node, And):
        return And([_scope_to_field(p, field) for p in node.parts])
    if isinstance(node, Or):
        return Or([_scope_to_field(p, field) for p in node.parts])
    if isinstance(node, Not):
        return Not(_scope_to_field(node.part, field))
    raise ValueError(
        f"unsupported atom {type(node).__name__} inside {field}:(...) group")


def parse_query_string(s: str):
    toks = _lex(s)
    if not toks:
        raise ValueError("empty query_string")
    return _Parser(toks).parse()


# --- compilers -------------------------------------------------------------------

_NUM_RE = re.compile(r"^-?\d+(\.\d+)?$")


def _spark_lit(v: str):
    """Typed literal: int/float when numeric, else string (Spark implicitly
    casts a string literal when compared to date/timestamp columns, matching
    ES range semantics on time fields)."""
    if _NUM_RE.match(v):
        return F.lit(float(v)) if "." in v else F.lit(int(v))
    return F.lit(v)


def _sql_lit(v: str) -> str:
    if _NUM_RE.match(v):
        return v
    return "'" + v.replace("'", "''") + "'"


def _resolve_field(field: str, columns: list[str]) -> str:
    """Case-insensitive resolution; `.keyword` suffix stripped (ref X8).
    ``columns`` may contain dotted struct-leaf paths (functions/nested.py
    ``flatten_schema_paths``) — matched case-insensitively path-wise, so
    nested fields resolve like the reference's get_dotkey_value
    (app/helpers/utils.py:47-76)."""
    base = field[: -len(".keyword")] if field.endswith(".keyword") else field
    for c in columns:
        if c.lower() == base.lower():
            return c
    raise KeyError(f"field {field!r} not in schema {columns}")


def _rowget(row, dotted: str):
    """Row access for the Python oracle — dotted paths dig into nested
    dicts/Rows."""
    if "." not in dotted:
        return row.get(dotted)
    from .functions.nested import dig

    return dig(row, dotted)


def _term_regex(term: str) -> str:
    toks = tokenize_py(term)
    if not toks:
        return "$^"  # matches nothing
    return phrase_regex(toks)


_WILD_OK = re.compile(r"^[a-z0-9*?]+$")


def wildcard_token_body(pattern: str) -> str | None:
    """Regex body matching a single TOKEN against the wildcard pattern
    (anchor/boundary-free). Tokens are runs of [a-z0-9], so a pattern with
    any other literal char can never match a token — None (match nothing).
    Same regex runs in Java, RE2 and Python ``re``."""
    p = pattern.lower()
    if not _WILD_OK.match(p):
        return None
    return "".join(
        "[a-z0-9]*" if ch == "*" else "[a-z0-9]" if ch == "?" else ch
        for ch in p
    )


def _wildcard_regex(pattern: str) -> str:
    """Boundary-wrapped text regex: doc contains a token matching pattern."""
    body = wildcard_token_body(pattern)
    if body is None:
        return "$^"
    return f"(^|[^a-z0-9])({body})($|[^a-z0-9])"


# the regex dialect common to Java (Spark rlike), RE2 (DuckDB) and Python:
# classes, grouping, alternation, ., quantifiers incl. {m,n}. No anchors,
# no backslash escapes, no Lucene ~complement/<>intervals.
_REGEXP_OK = re.compile(r"^[a-z0-9\[\]\(\)\{\}\|\.\*\+\?\,\-\^]*$")
# keyword-field regexps keep case (ES keyword regexp is case-sensitive);
# uppercase literals behave identically in all three engines
_REGEXP_OK_CASED = re.compile(r"^[a-zA-Z0-9\[\]\(\)\{\}\|\.\*\+\?\,\-\^]*$")
_BRACE_QUANT = re.compile(r"\{\d+(,\d*)?\}")


def regexp_token_body(pattern: str, *, lower: bool = True) -> str:
    """Validated regex body for a `/pattern/` atom — lowercased when
    ``lower`` (analyzed-text atoms: tokens are lowercase), case-preserving
    for keyword-field regexps (ES keyword regexp is case-sensitive; a
    FieldRegexp pattern must match the raw value as typed, like FieldEq).
    Raises ValueError outside the three-backend-identical dialect (a
    silently divergent regex would pass one engine and fail the oracle).
    `^` is allowed ONLY as class negation (`[^ab]`), never as an anchor.

    Structural rules beyond the charset — each rejects a measured
    cross-backend divergence: `{` only as a complete `{m}`/`{m,}`/`{m,n}`
    quantifier with a lower bound (`a{,3}` is {0,3} in Python but a
    literal in RE2 and a PatternSyntaxException in Java; `a{2`/`a{b}` are
    literal in Python/RE2 but crash Spark's Java engine at executor
    runtime); no `}` outside a quantifier; no `[` inside a class body
    (`[[a]]` is nested-class union in Java but a literal `[` in
    RE2/Python); a class may not open `[]`/`[^]` (literal `]` in
    RE2/Python, unclosed-class error in Java)."""
    p = pattern.lower() if lower else pattern
    ok = _REGEXP_OK if lower else _REGEXP_OK_CASED
    if not p or not ok.match(p):
        raise ValueError(
            f"unsupported regexp {pattern!r}: only classes, grouping, "
            "alternation, ., quantifiers over [a-z0-9] are portable "
            "across the Spark/DuckDB/Python backends")
    i, in_class, class_start = 0, False, -1
    while i < len(p):
        ch = p[i]
        if in_class:
            if ch == "[":
                raise ValueError(
                    f"unsupported regexp {pattern!r}: '[' inside a "
                    "character class diverges across backends")
            if ch == "]":
                body = i - class_start - 1
                if body == 0 or (body == 1 and p[class_start + 1] == "^"):
                    raise ValueError(
                        f"unsupported regexp {pattern!r}: '[]'/'[^]' "
                        "diverges across backends")
                in_class = False
            i += 1
            continue
        if ch == "[":
            in_class, class_start = True, i
        elif ch == "{":
            m = _BRACE_QUANT.match(p, i)
            if not m:
                raise ValueError(
                    f"unsupported regexp {pattern!r}: braces only as a "
                    "complete {{m}}/{{m,}}/{{m,n}} quantifier "
                    "(lower bound required)")
            i = m.end()
            continue
        elif ch == "}":
            raise ValueError(
                f"unsupported regexp {pattern!r}: '}}' outside a "
                "quantifier")
        i += 1
    if in_class:
        raise ValueError(
            f"unsupported regexp {pattern!r}: unterminated character class")
    if re.search(r"(?<!\[)\^", p):
        raise ValueError(
            f"unsupported regexp {pattern!r}: '^' only as [^...] negation")
    try:
        re.compile(p)
    except re.error as e:
        raise ValueError(f"invalid regexp {pattern!r}: {e}") from e
    return p


# NOTE: the Regexp raw-text fallback is compiled TOKEN-level in every
# backend (exists over the token array, never a boundary-wrapped regex on
# raw text): `.` / negated classes match any char, so a raw-text regex
# could cross token boundaries and diverge from the index path's
# dictionary fullmatch.


def slop_regex(toks: list[str], slop: int) -> str:
    """Text regex for a TWO-term sloppy phrase. Under the (position-offset)
    range formulation: an in-order match with g gap tokens costs g; a
    reversed match with g gap tokens costs g+2. Regex backends only support
    m<=2 (the positional index path handles any m); callers raise above."""
    t1, t2 = (re.escape(t) for t in toks)
    gap = "(?:[^a-z0-9]+[a-z0-9]+)"
    alts = [f"{t1}{gap}{{0,{slop}}}[^a-z0-9]+{t2}"]
    if slop >= 2:
        alts.append(f"{t2}{gap}{{0,{slop - 2}}}[^a-z0-9]+{t1}")
    body = "|".join(alts)
    return f"(^|[^a-z0-9])({body})($|[^a-z0-9])"


def _phrase_text_regex(node: "Phrase") -> str:
    """Regex for a Phrase node incl. slop (regex backends, m<=2 for slop)."""
    toks = tokenize_py(node.text)
    if not toks:
        return "$^"
    if node.slop <= 0 or len(toks) == 1:
        return phrase_regex(toks)
    if len(toks) > 2:
        raise ValueError(
            "sloppy phrases with >2 terms need the positional-index path "
            "(indexed_filter / phrase hits); regex backends support m<=2")
    return slop_regex(toks, node.slop)


def levenshtein_py(a: str, b: str) -> int:
    """Classic Levenshtein (matches DuckDB's levenshtein() and Spark's
    F.levenshtein — no transposition credit), for the Python oracle."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


# Marker-dict keys shared with index/filter.py (the index-backed filter
# precomputes one boolean column per distinct text atom).
def phrase_key(toks: list[str], slop: int = 0) -> str:
    return " ".join(toks) + (f"~{slop}" if slop else "")


def wildcard_key(pattern: str) -> str:
    return "w:" + pattern.lower()


def fuzzy_key(text: str, max_edits: int) -> str:
    return f"f{max_edits}:{text.lower()}"


def regexp_key(pattern: str) -> str:
    return "r:" + pattern.lower()


def to_spark_predicate(
    node, text_col: str, columns: list[str],
    term_markers: dict | None = None,
    phrase_markers: dict | None = None,
    pattern_markers: dict | None = None,
) -> Column:
    """Boolean filter-context compilation (no scoring).

    ``term_markers`` (optional) maps a single TOKEN to a precomputed boolean
    Column meaning "document contains token"; ``phrase_markers`` maps a
    ``phrase_key`` (space-joined tokens + optional ~slop) to "document
    contains phrase"; ``pattern_markers`` maps a ``wildcard_key`` /
    ``regexp_key`` / ``fuzzy_key`` to "document contains a matching token".
    ``index/filter.indexed_filter`` supplies them as ``array_contains``
    tests on the per-doc atom indices its posting-list kernel returns, so
    text atoms become posting-list lookups instead of regex scans. An atom
    missing from its dict (no dict, or a multi-token phrase on a
    non-positional index) falls back to rlike (or a tokens+levenshtein HOF
    for Fuzzy)."""
    if isinstance(node, MatchAll):
        return F.lit(True)
    if isinstance(node, Term):
        toks = tokenize_py(node.text)
        if term_markers is not None and len(toks) == 1 and toks[0] in term_markers:
            return term_markers[toks[0]]
        if phrase_markers is not None and len(toks) > 1:
            key = phrase_key(toks)
            if key in phrase_markers:
                return phrase_markers[key]
        return F.lower(F.col(text_col)).rlike(_term_regex(node.text))
    if isinstance(node, Phrase):
        toks = tokenize_py(node.text)
        if not toks:  # empty phrase "" matches nothing
            return F.lit(False)
        if term_markers is not None and len(toks) == 1 and toks[0] in term_markers:
            return term_markers[toks[0]]
        if phrase_markers is not None and len(toks) > 1:
            key = phrase_key(toks, node.slop)
            if key in phrase_markers:
                return phrase_markers[key]
        return F.lower(F.col(text_col)).rlike(_phrase_text_regex(node))
    if isinstance(node, FieldText):
        qtoks = qualify_tokens(node.field, node.text)
        if not qtoks:
            return F.lit(False)
        if (term_markers is not None and len(qtoks) == 1
                and qtoks[0] in term_markers):
            return term_markers[qtoks[0]]
        if phrase_markers is not None and len(qtoks) > 1:
            key = phrase_key(qtoks, node.slop)
            if key in phrase_markers:
                return phrase_markers[key]
        # raw fallback: the same text atom compiled against the FIELD column
        c = _resolve_field(node.field, columns)
        inner = (Term(node.text) if len(qtoks) == 1
                 else Phrase(node.text, slop=node.slop))
        return to_spark_predicate(inner, c, columns)
    if isinstance(node, Wildcard):
        if pattern_markers is not None:
            key = wildcard_key(node.text)
            if key in pattern_markers:
                return pattern_markers[key]
        return F.lower(F.col(text_col)).rlike(_wildcard_regex(node.text))
    if isinstance(node, Fuzzy):
        if pattern_markers is not None:
            key = fuzzy_key(node.text, node.max_edits)
            if key in pattern_markers:
                return pattern_markers[key]
        toks = tokenize_py(node.text)
        if len(toks) != 1:
            return F.lit(False)
        # fallback: JVM-side HOF over the token array (no Python UDF); the
        # index-backed path replaces this with a term-dictionary expansion
        return F.exists(
            tokens_col(F.col(text_col)),
            lambda t: F.levenshtein(t, F.lit(toks[0])) <= node.max_edits,
        )
    if isinstance(node, Regexp):
        if pattern_markers is not None:
            key = regexp_key(node.pattern)
            if key in pattern_markers:
                return pattern_markers[key]
        body = regexp_token_body(node.pattern)
        # token-level (anchored fullmatch per token) — see the dialect note
        return F.exists(
            tokens_col(F.col(text_col)),
            lambda t: t.rlike(f"^(?:{body})$"),
        )
    if isinstance(node, FieldRegexp):
        c = F.col(_resolve_field(node.field, columns))
        body = regexp_token_body(node.pattern, lower=False)
        return c.cast("string").rlike(f"^(?:{body})$")
    if isinstance(node, FieldWildcard):
        c = F.col(_resolve_field(node.field, columns))
        rx = "^" + "".join(
            ".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
            for ch in node.pattern
        ) + "$"
        return c.cast("string").rlike(rx)
    if isinstance(node, FieldEq):
        c = F.col(_resolve_field(node.field, columns))
        if _NUM_RE.match(node.value):
            return c == F.lit(float(node.value)) if "." in node.value else c == F.lit(int(node.value))
        return c == F.lit(node.value)
    if isinstance(node, Exists):
        return F.col(_resolve_field(node.field, columns)).isNotNull()
    if isinstance(node, FieldRange):
        c = F.col(_resolve_field(node.field, columns))
        cond = c.isNotNull()
        if node.lo is not None:
            lit = _spark_lit(node.lo)
            cond = cond & ((c >= lit) if node.lo_inc else (c > lit))
        if node.hi is not None:
            lit = _spark_lit(node.hi)
            cond = cond & ((c <= lit) if node.hi_inc else (c < lit))
        return cond
    if isinstance(node, And):
        out = to_spark_predicate(node.parts[0], text_col, columns,
                                 term_markers, phrase_markers, pattern_markers)
        for p in node.parts[1:]:
            out = out & to_spark_predicate(p, text_col, columns,
                                           term_markers, phrase_markers,
                                           pattern_markers)
        return out
    if isinstance(node, Or):
        out = to_spark_predicate(node.parts[0], text_col, columns,
                                 term_markers, phrase_markers, pattern_markers)
        for p in node.parts[1:]:
            out = out | to_spark_predicate(p, text_col, columns,
                                           term_markers, phrase_markers,
                                           pattern_markers)
        return out
    if isinstance(node, Not):
        return ~to_spark_predicate(node.part, text_col, columns,
                                   term_markers, phrase_markers,
                                   pattern_markers)
    raise TypeError(node)


def to_duckdb_sql(node, text_col: str, columns: list[str]) -> str:
    """Same predicate as ANSI/DuckDB SQL (the correctness oracle)."""
    if isinstance(node, MatchAll):
        return "TRUE"
    if isinstance(node, Term):
        return f"regexp_matches(lower({text_col}), '{_term_regex(node.text)}')"
    if isinstance(node, Phrase):
        toks = tokenize_py(node.text)
        if not toks:
            return "FALSE"
        rx = _phrase_text_regex(node)
        return f"regexp_matches(lower({text_col}), '{rx}')"
    if isinstance(node, FieldText):
        qtoks = qualify_tokens(node.field, node.text)
        if not qtoks:
            return "FALSE"
        c = _resolve_field(node.field, columns)
        inner = (Term(node.text) if len(qtoks) == 1
                 else Phrase(node.text, slop=node.slop))
        return to_duckdb_sql(inner, c, columns)
    if isinstance(node, Wildcard):
        rx = _wildcard_regex(node.text)
        return f"regexp_matches(lower({text_col}), '{rx}')"
    if isinstance(node, Fuzzy):
        toks = tokenize_py(node.text)
        if len(toks) != 1:
            return "FALSE"
        t = toks[0].replace("'", "''")
        return (f"len(list_filter({tokens_sql(text_col)}, "
                f"t -> levenshtein(t, '{t}') <= {node.max_edits})) > 0")
    if isinstance(node, Regexp):
        body = regexp_token_body(node.pattern).replace("'", "''")
        return (f"len(list_filter({tokens_sql(text_col)}, "
                f"t -> regexp_full_match(t, '{body}'))) > 0")
    if isinstance(node, FieldRegexp):
        body = regexp_token_body(
            node.pattern, lower=False).replace("'", "''")
        c = _resolve_field(node.field, columns)
        return f"regexp_full_match(CAST({c} AS VARCHAR), '{body}')"
    if isinstance(node, FieldWildcard):
        rx = "^" + "".join(
            ".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
            for ch in node.pattern
        ) + "$"
        c = _resolve_field(node.field, columns)
        return f"regexp_matches(CAST({c} AS VARCHAR), '{rx}')"
    if isinstance(node, FieldEq):
        c = _resolve_field(node.field, columns)
        if _NUM_RE.match(node.value):
            return f"{c} = {node.value}"
        v = node.value.replace("'", "''")
        return f"{c} = '{v}'"
    if isinstance(node, Exists):
        return f"{_resolve_field(node.field, columns)} IS NOT NULL"
    if isinstance(node, FieldRange):
        c = _resolve_field(node.field, columns)
        parts = [f"{c} IS NOT NULL"]
        if node.lo is not None:
            parts.append(f"{c} {'>=' if node.lo_inc else '>'} {_sql_lit(node.lo)}")
        if node.hi is not None:
            parts.append(f"{c} {'<=' if node.hi_inc else '<'} {_sql_lit(node.hi)}")
        return "(" + " AND ".join(parts) + ")"
    if isinstance(node, And):
        return "(" + " AND ".join(to_duckdb_sql(p, text_col, columns) for p in node.parts) + ")"
    if isinstance(node, Or):
        return "(" + " OR ".join(to_duckdb_sql(p, text_col, columns) for p in node.parts) + ")"
    if isinstance(node, Not):
        return f"(NOT {to_duckdb_sql(node.part, text_col, columns)})"
    raise TypeError(node)


def to_python_predicate(node, text_col: str, columns: list[str]):
    """Oracle-side compilation: row dict → bool (pure Python)."""
    if isinstance(node, MatchAll):
        return lambda row: True
    if isinstance(node, Term):
        rx = re.compile(_term_regex(node.text))
        return lambda row: row.get(text_col) is not None and bool(
            rx.search(str(row[text_col]).lower())
        )
    if isinstance(node, Phrase):
        toks = tokenize_py(node.text)
        if not toks:
            return lambda row: False
        rx = re.compile(_phrase_text_regex(node))
        return lambda row: row.get(text_col) is not None and bool(
            rx.search(str(row[text_col]).lower())
        )
    if isinstance(node, FieldText):
        qtoks = qualify_tokens(node.field, node.text)
        if not qtoks:
            return lambda row: False
        c = _resolve_field(node.field, columns)
        inner = (Term(node.text) if len(qtoks) == 1
                 else Phrase(node.text, slop=node.slop))
        return to_python_predicate(inner, c, columns)
    if isinstance(node, Wildcard):
        rx = re.compile(_wildcard_regex(node.text))
        return lambda row: row.get(text_col) is not None and bool(
            rx.search(str(row[text_col]).lower())
        )
    if isinstance(node, Fuzzy):
        toks = tokenize_py(node.text)
        if len(toks) != 1:
            return lambda row: False
        t, n = toks[0], node.max_edits
        return lambda row: any(
            abs(len(tok) - len(t)) <= n and levenshtein_py(tok, t) <= n
            for tok in tokenize_py(row.get(text_col))
        )
    if isinstance(node, Regexp):
        rxf = re.compile(regexp_token_body(node.pattern))
        return lambda row: any(
            rxf.fullmatch(tok) for tok in tokenize_py(row.get(text_col)))
    if isinstance(node, FieldRegexp):
        c = _resolve_field(node.field, columns)
        rxf = re.compile(regexp_token_body(node.pattern, lower=False))
        return lambda row: _rowget(row, c) is not None and bool(
            rxf.fullmatch(str(_rowget(row, c))))
    if isinstance(node, FieldWildcard):
        c = _resolve_field(node.field, columns)
        rx = re.compile("^" + "".join(
            ".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
            for ch in node.pattern
        ) + "$")
        return lambda row: _rowget(row, c) is not None and bool(
            rx.match(str(_rowget(row, c))))
    if isinstance(node, FieldEq):
        c = _resolve_field(node.field, columns)
        if _NUM_RE.match(node.value):
            want = float(node.value)
            return lambda row: _rowget(row, c) is not None and float(_rowget(row, c)) == want
        return lambda row: _rowget(row, c) == node.value
    if isinstance(node, Exists):
        c = _resolve_field(node.field, columns)
        return lambda row: _rowget(row, c) is not None
    if isinstance(node, FieldRange):
        c = _resolve_field(node.field, columns)
        lo, hi = node.lo, node.hi

        def _coerce(rowv, bound):
            import datetime
            if isinstance(rowv, bool):
                return str(rowv), bound
            if isinstance(rowv, (int, float)) and _NUM_RE.match(bound):
                return float(rowv), float(bound)
            if isinstance(rowv, (datetime.datetime, datetime.date)):
                import pandas as pd
                b = pd.Timestamp(bound)
                if isinstance(rowv, datetime.datetime):
                    return pd.Timestamp(rowv), b
                return pd.Timestamp(rowv), b.normalize()
            return str(rowv), bound

        def check(row):
            v = _rowget(row, c)
            if v is None:
                return False
            if lo is not None:
                a, b = _coerce(v, lo)
                if not (a >= b if node.lo_inc else a > b):
                    return False
            if hi is not None:
                a, b = _coerce(v, hi)
                if not (a <= b if node.hi_inc else a < b):
                    return False
            return True

        return check
    if isinstance(node, And):
        fs = [to_python_predicate(p, text_col, columns) for p in node.parts]
        return lambda row: all(f(row) for f in fs)
    if isinstance(node, Or):
        fs = [to_python_predicate(p, text_col, columns) for p in node.parts]
        return lambda row: any(f(row) for f in fs)
    if isinstance(node, Not):
        f = to_python_predicate(node.part, text_col, columns)
        return lambda row: not f(row)
    raise TypeError(node)


def dsl_to_ast(d: dict):
    """ES-DSL dict subset → AST (ref F3: the reference appends raw DSL
    filters to every model query, app/helpers/es.py:252-270 / :537-565).

    Supported: bool (must/should/must_not/filter), term, terms, range
    (gt/gte/lt/lte), exists, query_string, match_all, prefix, wildcard,
    fuzzy, match_phrase (with slop). Compiles through the same three
    backends as the query_string grammar."""
    if not isinstance(d, dict) or len(d) != 1:
        raise ValueError(f"expected a single-key DSL dict, got {d!r}")
    kind, body = next(iter(d.items()))
    if kind == "match_all":
        return MatchAll()
    if kind == "query_string":
        return parse_query_string(body["query"] if isinstance(body, dict) else body)
    if kind == "prefix":
        (f, v), = body.items()
        if isinstance(v, dict):
            v = v["value"]
        return FieldWildcard(f, f"{v}*")
    if kind == "wildcard":
        (f, v), = body.items()
        if isinstance(v, dict):
            v = v.get("value", v.get("wildcard"))
        return FieldWildcard(f, str(v))
    if kind == "regexp":
        # ES regexp is a term-level query: on the analyzed text column it
        # matches any token fully; on keyword fields the whole value
        (f, v), = body.items()
        if isinstance(v, dict):
            v = v["value"]
        # validate the portable dialect upfront (analyzed text lowers,
        # keyword fields keep case — FieldEq parity)
        regexp_token_body(str(v), lower=(f == "text"))
        return Regexp(str(v)) if f == "text" else FieldRegexp(f, str(v))
    if kind == "fuzzy":
        (f, v), = body.items()
        fuzz = 2
        if isinstance(v, dict):
            fuzz = int(v.get("fuzziness", 2))
            v = v["value"]
        # ES fuzzy runs on a FIELD's terms; our text field is the analyzed
        # corpus column, other fields are keyword-exact — mirror the F2
        # Fuzzy atom on the text column, which is where the reference's
        # fuzzy use lands
        return Fuzzy(str(v), min(fuzz, 2))
    if kind == "match_phrase":
        (f, v), = body.items()
        slop = 0
        if isinstance(v, dict):
            slop = int(v.get("slop", 0))
            v = v["query"]
        return Phrase(str(v), slop=slop)
    if kind == "match":
        # analyzed OR-of-terms on the text field (ES default operator OR)
        (f, v), = body.items()
        if isinstance(v, dict):
            v = v["query"]
        toks = tokenize_py(str(v))
        if not toks:
            return MatchAll()
        return Term(toks[0]) if len(toks) == 1 else Or(
            [Term(t) for t in toks])
    if kind == "term":
        (f, v), = body.items()
        if isinstance(v, dict):
            v = v["value"]
        return FieldEq(f, str(v))
    if kind == "terms":
        (f, vals), = body.items()
        return Or([FieldEq(f, str(v)) for v in vals])
    if kind == "exists":
        return Exists(body["field"] if isinstance(body, dict) else body)
    if kind == "range":
        (f, spec), = body.items()
        lo = spec.get("gte", spec.get("gt"))
        hi = spec.get("lte", spec.get("lt"))
        return FieldRange(
            f,
            None if lo is None else str(lo),
            None if hi is None else str(hi),
            lo_inc="gte" in spec or "gt" not in spec,
            hi_inc="lte" in spec or "lt" not in spec,
        )
    if kind == "bool":
        parts: list = []
        for key in ("must", "filter"):
            clauses = body.get(key, [])
            clauses = clauses if isinstance(clauses, list) else [clauses]
            parts.extend(dsl_to_ast(c) for c in clauses)
        should = body.get("should", [])
        should = should if isinstance(should, list) else [should]
        # ES minimum_should_match default: 1 when the bool has should clauses
        # and NO must/filter clauses, else 0 — with must/filter present,
        # should clauses only influence scoring and must NOT restrict
        # matching in filter context.
        msm = int(body.get("minimum_should_match", 1 if not parts else 0))
        if should and msm >= 1:
            clauses = [dsl_to_ast(c) for c in should]
            if msm == 1:
                parts.append(Or(clauses))
            elif msm == len(clauses):
                parts.append(And(clauses))
            elif msm > len(clauses):
                # ES: msm above the clause count can never be satisfied
                parts.append(Not(MatchAll()))
            else:
                # at-least-N compiles to an OR over all N-subsets — exact ES
                # semantics with zero new backend surface (every compiler /
                # marker path already handles And/Or). Bounded: ES bool
                # queries carry a handful of should clauses; C(n, m) beyond
                # the cap signals a misuse, not a query.
                import math
                from itertools import combinations

                # check the count ARITHMETICALLY before enumerating:
                # materializing C(n, m) tuples first means C(30, 15) ≈ 1.5e8
                # allocations (~12 GB, minutes of CPU) just to learn the
                # query is over the cap
                if math.comb(len(clauses), msm) > 200:
                    raise ValueError(
                        f"minimum_should_match={msm} over {len(clauses)} "
                        "should clauses expands past 200 conjunctions")
                parts.append(Or([And(list(cb))
                                 for cb in combinations(clauses, msm)]))
        must_not = body.get("must_not", [])
        must_not = must_not if isinstance(must_not, list) else [must_not]
        parts.extend(Not(dsl_to_ast(c)) for c in must_not)
        if not parts:
            return MatchAll()
        return parts[0] if len(parts) == 1 else And(parts)
    raise ValueError(f"unsupported DSL clause {kind!r}")


def collect_text_terms(node) -> tuple[list[str], list[str]]:
    """(positive bare terms, positive phrases) for BM25 scoring — negated and
    field clauses contribute filtering only, like ES filter context."""
    terms: list[str] = []
    phrases: list[str] = []

    def walk(n, neg: bool):
        if isinstance(n, Term) and not neg:
            terms.extend(tokenize_py(n.text))
        elif isinstance(n, Phrase) and not neg:
            phrases.append(n.text)
        elif isinstance(n, (And, Or)):
            for p in n.parts:
                walk(p, neg)
        elif isinstance(n, Not):
            walk(n.part, not neg)

    walk(node, False)
    return terms, phrases


def collect_query_atoms(node) -> dict:
    """All positive scored text atoms for the index-backed query_string
    scorer: {'terms': [(token, boost)], 'phrases': [(tokens, slop, boost)]
    (tokens = analyzed dictionary terms, field-prefixed for FieldText),
    'wildcards': [(pattern, boost)], 'fuzzies': [(token, max_edits,
    boost)]}. FieldText atoms score like text atoms (ES query_string on an
    analyzed field): one token joins 'terms' as its `field:token`
    dictionary entry, several join 'phrases'. Negated and non-analyzed
    field clauses are filter-only (ES scoring semantics). Duplicate atoms
    (ignoring boost) keep the first occurrence — matching the engine's
    established dedup of repeated literal terms."""
    out = {"terms": [], "phrases": [], "wildcards": [], "fuzzies": [],
           "regexps": []}
    seen: set = set()

    def add(kind, key, entry):
        if (kind, key) not in seen:
            seen.add((kind, key))
            out[kind].append(entry)

    def walk(n, neg: bool):
        if neg:
            if isinstance(n, Not):
                walk(n.part, False)
            elif isinstance(n, (And, Or)):
                for p in n.parts:
                    walk(p, True)
            return
        if isinstance(n, Term):
            for t in tokenize_py(n.text):
                add("terms", t, (t, n.boost))
        elif isinstance(n, Phrase):
            toks = tokenize_py(n.text)
            if toks:
                add("phrases", (tuple(toks), n.slop),
                    (list(toks), n.slop, n.boost))
        elif isinstance(n, FieldText):
            qtoks = qualify_tokens(n.field, n.text)
            if len(qtoks) == 1:
                add("terms", qtoks[0], (qtoks[0], n.boost))
            elif qtoks:
                add("phrases", (tuple(qtoks), n.slop),
                    (qtoks, n.slop, n.boost))
        elif isinstance(n, Wildcard):
            add("wildcards", n.text, (n.text, n.boost))
        elif isinstance(n, Regexp):
            add("regexps", n.pattern, (n.pattern, n.boost))
        elif isinstance(n, Fuzzy):
            toks = tokenize_py(n.text)
            if len(toks) == 1:
                add("fuzzies", (toks[0], n.max_edits),
                    (toks[0], n.max_edits, n.boost))
        elif isinstance(n, (And, Or)):
            for p in n.parts:
                walk(p, neg)
        elif isinstance(n, Not):
            walk(n.part, not neg)

    walk(node, False)
    return out

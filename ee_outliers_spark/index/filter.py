"""Index-backed filter context: the text atoms of a query_string boolean
resolve against the SPIMI posting lists instead of regex-scanning the corpus.

The reference's filter context is an ES bool query; Lucene resolves each
text clause per segment with bitset algebra (ref F1/F2, app/helpers/
es.py:238-250, :664-710). Here one per-segment kernel, ``_segment_sets``,
is the only code where text atoms meet posting lists:

  each live segment read in place (``build.run_segment_kernel``) —
  ``term IN (...)``: query tokens plus the terms the wildcard / regexp /
  fuzzy atoms expand to on the driver, and the doclen sidecar row when
  NOT / match-all needs the segment universe (``_sets_read``)
    → one kernel call per segment (segments are doc-disjoint)
    → every text atom becomes a sorted numpy doc-id array

A text-only boolean (``text_only``) is then evaluated in the task as
intersect / union / setdiff (``matching_ids``) and never touches the docs
table. A mixed boolean (field, range or exists atoms too) gets, per doc, the
indices of the text atoms it matches; ``indexed_filter`` joins those markers
with the docs table ONCE and tests each text atom as
``array_contains(markers, i)``. Multi-token (incl. sloppy) phrases resolve
by positional-window intersection on a positional index; a non-positional
index compiles them to the regex predicate. Field, range and exists atoms
stay plain column predicates that Catalyst pushes to the docs scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queryparser import (
    And, FieldText, Fuzzy, MatchAll, Not, Or, Phrase, Regexp, Term, Wildcard,
    fuzzy_key, levenshtein_py, phrase_key, qualify_tokens, regexp_key,
    regexp_token_body, resolve_analyzed, to_spark_predicate, wildcard_key,
    wildcard_token_body,
)
from ..session import empty_frame
from ..tokenizer import tokenize_py
from .build import IndexPaths, SegmentRead, load_stats, run_segment_kernel
from .codec import varbyte_decode
from .query import (
    _lazy_plists, _phrase_seg_match, _raw_positional, _read_dictionary,
)

MARKER_COL = "_markers"


def _atom_tokens(n) -> list[str]:
    """Dictionary terms of a Term / Phrase / FieldText atom — FieldText
    yields the field-prefixed (`field:token`) per-field dictionary terms."""
    if isinstance(n, FieldText):
        return qualify_tokens(n.field, n.text)
    return tokenize_py(n.text)


def _slop(n) -> int:
    return n.slop if isinstance(n, (Phrase, FieldText)) else 0


def _pattern_key(n) -> str:
    """Marker key of a Wildcard / Regexp / Fuzzy atom."""
    if isinstance(n, Wildcard):
        return wildcard_key(n.text)
    if isinstance(n, Regexp):
        return regexp_key(n.pattern)
    return fuzzy_key(n.text, n.max_edits)


def _text_atoms(node, positional: bool) -> list[tuple[str, str, object]]:
    """Distinct text atoms of the AST as (kind, key, node), in first-seen
    order: "term" keyed by its dictionary token (single-token Term / Phrase
    / FieldText), "pat" by its marker key (Wildcard / Regexp / Fuzzy) and,
    on a positional index, "phrase" by its ``phrase_key`` (multi-token Term
    / Phrase / FieldText, incl. sloppy). Any polarity: an atom's marker is
    its truth value, negation applies to the marker."""
    out: dict[tuple[str, str], object] = {}

    def walk(n):
        if isinstance(n, (Term, Phrase, FieldText)):
            toks = _atom_tokens(n)
            if len(toks) == 1:
                out.setdefault(("term", toks[0]), n)
            elif toks and positional:
                out.setdefault(("phrase", phrase_key(toks, _slop(n))), n)
        elif isinstance(n, (Wildcard, Regexp, Fuzzy)):
            out.setdefault(("pat", _pattern_key(n)), n)
        elif isinstance(n, (And, Or)):
            for p in n.parts:
                walk(p)
        elif isinstance(n, Not):
            walk(n.part)

    walk(node)
    return [(kind, key, n) for (kind, key), n in out.items()]


def required_atoms_union(node) -> list[tuple[str, str]] | None:
    """A set of positive text atoms — ("term", token) or ("pat", marker
    key) — such that EVERY matching doc must match at least one of them, or
    None when no such guarantee exists (pure negations, field-only
    predicates). With a guarantee, the marker kernel evaluates only the
    docs in those atoms' posting lists and the docs join is an inner join:
    the filter touches the candidate postings' docs, never the whole docs
    table, the way ES drives filter context off the inverted index."""
    if isinstance(node, (Term, Phrase, FieldText)):
        # a doc matching a phrase necessarily contains each of its tokens —
        # any one of them is a valid guarantee (pick the first); FieldText
        # guarantees its field-prefixed dictionary term
        toks = _atom_tokens(node)
        return [("term", toks[0])] if toks else None
    if isinstance(node, (Wildcard, Regexp, Fuzzy)):
        return [("pat", _pattern_key(node))]
    if isinstance(node, And):
        # any single conjunct's guarantee covers the conjunction; prefer the
        # smallest guarantee set (most selective candidate set)
        best = None
        for p in node.parts:
            u = required_atoms_union(p)
            if u is not None and (best is None or len(u) < len(best)):
                best = u
        return best
    if isinstance(node, Or):
        out: list[tuple[str, str]] = []
        for p in node.parts:
            u = required_atoms_union(p)
            if u is None:
                return None  # one alternative matches without any term
            out.extend(u)
        return list(dict.fromkeys(out))
    return None


def text_only(node, positional: bool) -> bool:
    """True when the boolean is decidable purely from the index — every leaf
    is a text atom (term / phrase / wildcard / fuzzy) or MatchAll, with
    multi-token phrases requiring a positional index. Field / range / exists
    atoms reference doc columns, so they need the docs table."""

    def walk(n) -> bool:
        if isinstance(n, (Term, Phrase, FieldText)):
            # a FieldText node only exists after resolve_analyzed consulted
            # the index's analyzed_fields, so its prefixed terms ARE indexed
            toks = _atom_tokens(n)
            return len(toks) <= 1 or positional
        if isinstance(n, (Wildcard, Fuzzy, Regexp, MatchAll)):
            return True
        if isinstance(n, (And, Or)):
            return all(walk(p) for p in n.parts)
        if isinstance(n, Not):
            return walk(n.part)
        return False

    return walk(node)


def wildcard_spec(pattern: str) -> tuple | None:
    """Matcher spec of a wildcard atom (see ``spec_matcher``); None when the
    pattern can never match a token."""
    body = wildcard_token_body(pattern)
    return None if body is None else ("re", f"({body})")


def regexp_spec(pattern: str) -> tuple:
    """Matcher spec of a `/regexp/` atom (see ``spec_matcher``)."""
    return ("re", f"(?:{regexp_token_body(pattern)})")


def spec_matcher(spec: tuple | None):
    """term → bool: the one dictionary matcher of the wildcard / regexp /
    fuzzy atoms, shared by the scorer's and the filter's driver-side
    expansion (``query._read_dictionary``), for a picklable spec — ("re",
    regex_source) or ("lev", token, max_edits); None matches nothing.
    ':'-containing terms are field-qualified entries, which a main-text
    pattern never matches even when '.' or a negated class in the dialect
    could (tokens have no ':')."""
    import re

    if spec is None:
        return lambda term: False
    if spec[0] == "re":
        rx = re.compile(spec[1])
        return lambda term: ":" not in term and rx.fullmatch(term) is not None
    _, tok, m = spec
    return lambda term: (":" not in term and abs(len(term) - len(tok)) <= m
                         and levenshtein_py(term, tok) <= m)


def _pattern_spec(n) -> tuple | None:
    """Matcher spec (``spec_matcher``) of a Wildcard / Regexp / Fuzzy atom."""
    if isinstance(n, Wildcard):
        return wildcard_spec(n.text)
    if isinstance(n, Regexp):
        return regexp_spec(n.pattern)
    toks = tokenize_py(n.text)
    return ("lev", toks[0], n.max_edits) if len(toks) == 1 else None


def _is_multi_phrase(n) -> bool:
    return (isinstance(n, (Term, Phrase, FieldText))
            and len(_atom_tokens(n)) > 1)


def _needs_universe(n, has_cand: bool) -> bool:
    """Mirror of the kernel's evaluator: the doclen sidecar (doc universe)
    is needed only when a NOT / match-all is evaluated WITHOUT a candidate
    set. `X AND NOT Y` — the dominant negative shape — is evaluated as
    subtraction from the positive conjunction, so it never touches the
    universe (Lucene's ReqExcl scorer, not a complement bitset)."""
    if isinstance(n, MatchAll):
        return not has_cand
    if isinstance(n, Not):
        return (not has_cand) or _needs_universe(n.part, True)
    if isinstance(n, And):
        pos = [p for p in n.parts if not isinstance(p, Not)]
        neg = [p for p in n.parts if isinstance(p, Not)]
        if not pos:
            return ((not has_cand)
                    or any(_needs_universe(q.part, True) for q in neg))
        order = ([p for p in pos if not _is_multi_phrase(p)]
                 + [p for p in pos if _is_multi_phrase(p)])
        return (_needs_universe(order[0], has_cand)
                or any(_needs_universe(p, True) for p in order[1:])
                or any(_needs_universe(q.part, True) for q in neg))
    if isinstance(n, Or):
        return any(_needs_universe(p, has_cand) for p in n.parts)
    return False


def _sets_read(node, positional: bool, out: str,
               guard: list[tuple[str, str]] | None,
               expanded_terms) -> SegmentRead | None:
    """What ``_segment_sets`` reads of each segment for the resolved AST
    ``node``, given the dictionary terms its pattern atoms expand to: the
    term rows of every term, phrase token and guard atom; the doclen sidecar
    (the segment universe) only when a NOT / match-all needs it
    (``_needs_universe``); positions only when there are phrases. None when
    no atom can match and no universe is needed: nothing can match."""
    atoms = _text_atoms(node, positional)
    ph_tokens = {t for kind, _, n in atoms if kind == "phrase"
                 for t in _atom_tokens(n)}
    need = ({key for kind, key, _ in atoms if kind == "term"} | ph_tokens
            | {v for kind, v in guard or () if kind == "term"}
            | set(expanded_terms))
    sidecar = out != "markers" and _needs_universe(node, False)
    if not need and not sidecar:
        return None
    return SegmentRead(
        tuple(sorted(need)), sidecar,
        ("term", "doc_blob")
        + (("tf_blob", "pos_blob", "block_pos_ends") if ph_tokens else ()))


def _segment_sets(spark: SparkSession, paths: IndexPaths, stats: dict, node,
                  out: str, guard: list[tuple[str, str]] | None = None
                  ) -> DataFrame:
    """The per-segment posting-list kernel over the resolved AST ``node``,
    on the live segments of commit ``stats``. ``out`` picks what each
    segment returns:

    - "ids": (doc_id) of the docs matching the text-only boolean;
    - "count": one (cnt) row, the number of those docs;
    - "markers": (doc_id, MARKER_COL) for each doc matching ≥1 text atom —
      the indices, in ``_text_atoms`` order, of the atoms it matches. With a
      ``guard`` (``required_atoms_union``) every atom is evaluated only over
      the union of the guaranteed atoms' docsets, and every doc of that
      union is emitted (its markers possibly empty).

    Pattern atoms expand on the driver (``query._read_dictionary`` with
    ``spec_matcher``), so each segment read is a plain ``term IN (...) [OR
    term IS NULL]`` (``_sets_read``)."""
    positional = bool(stats.get("positions"))
    atoms = _text_atoms(node, positional)
    pats = {key: n for kind, key, n in atoms if kind == "pat"}
    matched = _read_dictionary(
        paths, (), [spec_matcher(_pattern_spec(n)) for n in pats.values()])[1]
    expanded = dict(zip(pats, matched))
    read = _sets_read(node, positional, out, guard,
                      [t for terms in matched for t in terms])
    schema = {"ids": "doc_id long", "count": "cnt long",
              "markers": f"doc_id long, {MARKER_COL} array<int>"}[out]
    if read is None:
        return empty_frame(spark, schema)
    ph_tokens = {t for kind, _, n in atoms if kind == "phrase"
                 for t in _atom_tokens(n)}
    nothing = np.empty(0, dtype=np.int64)

    def union(parts: list[np.ndarray]) -> np.ndarray:
        return np.unique(np.concatenate(parts)) if parts else nothing

    def run(seg: int, pdf: pd.DataFrame) -> pd.DataFrame:
        universe = nothing
        if read.sidecar:
            dl_rows = pdf[pdf["term"].isna()]
            if dl_rows.empty:
                return pd.DataFrame()
            universe = np.cumsum(
                varbyte_decode(bytes(dl_rows["doc_blob"].iloc[0]))
            ).astype(np.int64)
        term_rows = pdf[pdf["term"].notna()]
        docsets: dict[str, np.ndarray] = {}
        for term, dblob in zip(term_rows["term"], term_rows["doc_blob"]):
            docsets[term] = np.cumsum(
                varbyte_decode(bytes(dblob))).astype(np.int64)
        pat_sets = {k: union([docsets[t] for t in terms if t in docsets])
                    for k, terms in expanded.items()}

        # phrases: positions decode LAZILY per evaluation, restricted to the
        # current candidate set — under `A AND "x y"` only candidate blocks
        # of the position stream are touched (gather_candidate_positions),
        # so phrase cost tracks the conjunction's selectivity, not corpus
        # size. Unrestricted evaluations (phrase as the only positive, or
        # under a bare OR) memoize on the phrase key.
        raw_pos: dict[str, tuple] = {}
        if ph_tokens:
            for term, dblob, tblob, pblob, bpe in zip(
                    term_rows["term"], term_rows["doc_blob"],
                    term_rows["tf_blob"], term_rows["pos_blob"],
                    term_rows["block_pos_ends"]):
                if term in ph_tokens and pblob is not None:
                    raw_pos[term] = _raw_positional(dblob, tblob, pblob, bpe)
        ph_memo: dict[str, np.ndarray] = {}

        def ph_eval(toks, slop, cand) -> np.ndarray:
            k = phrase_key(toks, slop)
            if cand is None and k in ph_memo:
                return ph_memo[k]
            distinct = list(dict.fromkeys(toks))
            if not all(t in raw_pos for t in distinct):
                return nothing
            _, plists = _lazy_plists(
                {t: raw_pos[t] for t in distinct}, distinct, cand)
            if plists is None:
                d = nothing
            else:
                d, _ = _phrase_seg_match(plists, distinct, toks, slop)
            if cand is None:
                ph_memo[k] = d
            return d

        def ev(n, cand=None) -> np.ndarray:
            """Contract: matches(n) ∩ cand ⊆ result ⊆ matches(n) (with
            cand=None: result == matches(n)). Intersections/subtractions
            against a running candidate set therefore stay exact while
            letting every subtree skip work outside the candidates."""
            if isinstance(n, (Term, Phrase, FieldText)):
                toks = _atom_tokens(n)
                if not toks:
                    return nothing
                if len(toks) == 1:
                    return docsets.get(toks[0], nothing)
                return ph_eval(toks, _slop(n), cand)
            if isinstance(n, (Wildcard, Regexp, Fuzzy)):
                return pat_sets[_pattern_key(n)]
            if isinstance(n, MatchAll):
                return universe if cand is None else cand
            if isinstance(n, And):
                pos = [p for p in n.parts if not isinstance(p, Not)]
                neg = [p for p in n.parts if isinstance(p, Not)]
                if pos:
                    # cheap atoms first, multi-token phrases last so their
                    # position decode sees the narrowest candidate set
                    order = ([p for p in pos if not _is_multi_phrase(p)]
                             + [p for p in pos if _is_multi_phrase(p)])
                    r = ev(order[0], cand)
                    if cand is not None:
                        r = np.intersect1d(r, cand, assume_unique=True)
                    for p in order[1:]:
                        if r.size == 0:
                            return r
                        r = np.intersect1d(r, ev(p, r), assume_unique=True)
                else:
                    # pure-negative: complement of the union, over the
                    # candidates when given, else the segment universe
                    r = universe if cand is None else cand
                for q in neg:
                    if r.size == 0:
                        return r
                    r = np.setdiff1d(r, ev(q.part, r), assume_unique=True)
                return r
            if isinstance(n, Or):
                return union([r for r in (ev(p, cand) for p in n.parts)
                              if r.size])
            if isinstance(n, Not):
                base = universe if cand is None else cand
                return np.setdiff1d(base, ev(n.part, base),
                                    assume_unique=True)
            raise ValueError(f"non-text atom in matching_ids: {n!r}")

        if out == "markers":
            cand = None
            if guard is not None:
                cand = union([docsets.get(v, nothing) if kind == "term"
                              else pat_sets[v] for kind, v in guard])
            sets = [ev(n, cand) for _, _, n in atoms]
            if cand is not None:
                sets = [np.intersect1d(s, cand, assume_unique=True)
                        for s in sets]
            d = np.concatenate([nothing] + sets)
            # a stable sort keeps each doc's atom indices ascending
            order = np.argsort(d, kind="stable")
            idx = np.repeat(np.arange(len(sets), dtype=np.int32),
                            [s.size for s in sets])[order]
            d = d[order]
            ids = np.unique(d) if cand is None else cand
            return pd.DataFrame({
                "doc_id": ids,
                MARKER_COL: pd.Series(
                    np.split(idx, np.searchsorted(d, ids[1:]))
                    if ids.size else [], dtype=object)})
        ids = ev(node)
        if out == "count":
            # the _count fast path ships ONE row per segment instead of the
            # matched ids — output size O(segments), not O(matches) (ES
            # _count returns a number; so do we)
            return pd.DataFrame({"cnt": [int(ids.size)]})
        return pd.DataFrame({"doc_id": ids})

    return run_segment_kernel(spark, paths, stats, read, run, schema)


def matching_ids(spark: SparkSession, paths: IndexPaths, node,
                 count_only: bool = False) -> DataFrame:
    """doc_ids matching a text-only boolean, evaluated ENTIRELY over posting
    lists with ZERO doc-keyed shuffle — the ES filter-context / _count fast
    path (ref S2 app/helpers/es.py:143-158: a count query never fetches
    documents; Lucene evaluates the bool as per-segment bitset algebra).
    Segments partition the doc space, so the boolean DISTRIBUTES over
    segments: inside one ``_segment_sets`` call the atoms become sorted
    numpy doc-id arrays (posting lists; pattern atoms union their expanded
    dictionary terms; phrases intersect position lists; the doclen sidecar
    is the segment's universe for NOT/match-all) and And/Or/Not are
    intersect/union/setdiff. The plan is ONE job: each task reads its
    segments in place and evaluates them → union of per-segment id arrays;
    no join, no docs-table access.

    Caller contract: ``node`` must satisfy ``text_only``; the ids are those
    of the indexed corpus (compose with a semi-join for subset inputs)."""
    stats = load_stats(paths)
    return _matching_ids(
        spark, paths, stats,
        resolve_analyzed(node, stats.get("analyzed_fields")), count_only)


def _matching_ids(spark: SparkSession, paths: IndexPaths, stats: dict, node,
                  count_only: bool = False) -> DataFrame:
    """``matching_ids`` on commit ``stats`` for an already-resolved
    ``node``."""
    if not stats.get("positions") and any(
            kind == "phrase" for kind, _, _ in _text_atoms(node, True)):
        # a multi-token phrase needs position lists; silently evaluating it
        # as "matches nothing" (and NOT "a b" as the whole universe) would
        # be a wrong answer, not a degraded one — refuse instead (callers
        # route through text_only(), which already gates on positions)
        raise ValueError(
            "matching_ids: multi-token phrase requires a positional "
            "index (build with positions=True, or route through "
            "indexed_filter)")
    return _segment_sets(spark, paths, stats, node,
                         "count" if count_only else "ids")


def indexed_filter(
    spark: SparkSession,
    paths: IndexPaths,
    docs: DataFrame,
    doc_col: str,
    text_col: str,
    node,
    columns: list[str],
) -> DataFrame:
    """Filter docs by a parsed query AST with index-backed text atoms;
    returns the original docs columns. The compiled plan contains NO regex
    over the corpus text (on a non-positional index, multi-token phrases
    excepted).

    When the boolean is decidable purely from the index (``text_only``), the
    whole filter collapses to ``matching_ids`` + a left-semi join: the docs
    table contributes only its key column (Catalyst prunes the rest), the
    way ES filter context never leaves the inverted index.

    Otherwise the marker kernel (``_segment_sets``) returns, per doc, which
    text atoms it matches, from one segment-kernel pass; the docs table is
    joined ONCE — inner when ``required_atoms_union`` guarantees a text atom
    (only candidate docs survive the join), left otherwise (no markers = no
    text atom matched) — and the boolean is ``to_spark_predicate`` with each text
    atom as ``array_contains(markers, i)``."""
    stats = load_stats(paths)
    # mapping consultation (ES-style): field atoms on analyzed fields
    # become index-backed FieldText atoms before any compilation
    return _indexed_filter(
        spark, paths, stats, docs, doc_col, text_col,
        resolve_analyzed(node, stats.get("analyzed_fields")), columns)


def _indexed_filter(spark: SparkSession, paths: IndexPaths, stats: dict,
                    docs: DataFrame, doc_col: str, text_col: str, node,
                    columns: list[str]) -> DataFrame:
    """``indexed_filter`` on commit ``stats`` for an already-resolved
    ``node``."""
    if text_only(node, bool(stats.get("positions"))):
        ids = _matching_ids(spark, paths, stats, node).withColumnRenamed(
            "doc_id", "__mi_doc_id")
        return docs.join(ids, docs[doc_col] == F.col("__mi_doc_id"),
                         "left_semi")

    joined, markers = marker_join(spark, paths, stats, docs, doc_col, node)
    return joined.where(to_spark_predicate(
        node, text_col, columns, **markers)).drop(MARKER_COL)


def marker_join(spark: SparkSession, paths: IndexPaths, stats: dict,
                docs: DataFrame, doc_col: str, node
                ) -> tuple[DataFrame, dict]:
    """``docs`` joined ONCE with the marker kernel's output for the resolved
    AST ``node`` on commit ``stats`` — inner when ``required_atoms_union``
    guarantees a text atom, left otherwise (no markers = no text atom
    matched) — plus the ``to_spark_predicate`` marker keywords that test
    each text atom as ``array_contains(MARKER_COL, i)``. Any sub-AST of
    ``node`` compiles against the same markers, so one join serves every
    boolean whose atoms ``node`` covers (``config.run_all`` passes the Or
    of every use case's filter)."""
    guard = required_atoms_union(node)
    marks = _segment_sets(spark, paths, stats, node, "markers", guard)
    joined = docs.join(
        marks.withColumnRenamed("doc_id", "__mk_doc_id"),
        docs[doc_col] == F.col("__mk_doc_id"),
        "left" if guard is None else "inner").drop("__mk_doc_id")
    if guard is None:
        joined = joined.withColumn(MARKER_COL, F.coalesce(
            F.col(MARKER_COL), F.array().cast("array<int>")))
    markers: dict[str, dict] = {"term": {}, "pat": {}, "phrase": {}}
    for i, (kind, key, _) in enumerate(
            _text_atoms(node, bool(stats.get("positions")))):
        markers[kind][key] = F.array_contains(F.col(MARKER_COL), i)
    return joined, {"term_markers": markers["term"],
                    "phrase_markers": markers["phrase"],
                    "pattern_markers": markers["pat"]}

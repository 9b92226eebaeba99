"""Query algebra + the ES-style JSON DSL parsers.

The logical algebra mirrors the reference's ``Query`` enum
(/root/reference/src/search/query/mod.rs:10-76); the parsers port the
dispatch table and per-type semantics of
/root/reference/src/query_parser/ (mod.rs:77-110 and each
``*_query.rs``).  Everything here is pure driver-side Python — Spark
enters only in the planner.

Scoring combinators (score_function.rs:21-38,74-88):

* Conjunction / Disjunction / MultiTerm → **average over the number
  of children** (a child that does not match a doc contributes 0.0);
* DisjunctionMax → max;
* boost multiplies term/all scores and is pushed down recursively
  (query/mod.rs:112-158; no-op short-circuit for boost == 1.0).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import List, Optional, Tuple, Union

BM25 = "bm25"
TFIDF = "tfidf"


class QueryParseError(ValueError):
    pass


@dataclass(frozen=True)
class TermScorer:
    """similarity + boost (term_scorer.rs:10-18; default BM25
    k1=1.2 b=0.75 lives in ``similarity.py``)."""
    similarity: str = BM25
    boost: float = 1.0


@dataclass(frozen=True)
class All:
    score: float = 1.0


@dataclass(frozen=True)
class NoneQuery:
    pass


@dataclass(frozen=True)
class Exists:
    """ES `exists` query (beyond the reference's set — an ES-1.x
    filter every real mapping workflow leans on): matches documents
    whose STORED value for ``field`` is present — non-null, and for
    array fields non-empty (ES treats `[]` as missing).  Scores a
    constant (ES query-context semantics); `missing` parses to
    Exclude(All, Exists) through the ordinary boolean algebra."""
    field: str
    score: float = 1.0


@dataclass(frozen=True)
class Term:
    field: str
    term: str
    scorer: TermScorer = TermScorer()


@dataclass(frozen=True)
class Prefix:
    """MultiTerm with the Prefix selector — the only selector the
    reference implements (multi_term_selector.rs:3-16); per-doc score
    is the Avg combinator over the matched dictionary terms."""
    field: str
    prefix: str
    scorer: TermScorer = TermScorer()


@dataclass(frozen=True)
class Wildcard:
    """MultiTerm with a wildcard selector (``*`` = any run, ``?`` =
    one char).  The reference declares the selector enum slot but
    never implements it (multi_term_selector.rs:3-16); scoring reuses
    the same Avg-over-global-dictionary machinery as Prefix."""
    field: str
    pattern: str
    scorer: TermScorer = TermScorer()


@dataclass(frozen=True)
class Regexp:
    """MultiTerm with a regex selector (ES `regexp` query semantics:
    the pattern is implicitly anchored — it must match the WHOLE
    term).  Same Avg-over-global-dictionary scoring as the other
    selectors."""
    field: str
    pattern: str
    scorer: TermScorer = TermScorer()


@dataclass(frozen=True)
class Fuzzy:
    """MultiTerm with a Levenshtein selector: matches dictionary
    terms within ``fuzziness`` edits of ``term`` (ES semantics:
    value is NOT analyzed; AUTO fuzziness = 0/1/2 by term length;
    ``prefix_length`` chars must match exactly, which also prunes
    the dictionary scan)."""
    field: str
    term: str
    fuzziness: int = 1
    prefix_length: int = 0
    scorer: TermScorer = TermScorer()


def auto_fuzziness(term: str) -> int:
    """ES AUTO rule: <3 chars → 0 edits, 3-5 → 1, >5 → 2."""
    n = len(term)
    return 0 if n < 3 else (1 if n <= 5 else 2)


@dataclass(frozen=True)
class Conjunction:
    queries: Tuple["Query", ...]


@dataclass(frozen=True)
class Disjunction:
    queries: Tuple["Query", ...]


@dataclass(frozen=True)
class DisjunctionMax:
    queries: Tuple["Query", ...]


@dataclass(frozen=True)
class Filter:
    query: "Query"
    filter: "Query"   # score-less


@dataclass(frozen=True)
class Exclude:
    query: "Query"
    exclude: "Query"  # score-less


@dataclass(frozen=True)
class Nested:
    """ES ``nested`` TYPE query: the inner query must match within a
    SINGLE array element of ``path`` (child document), not across
    elements — the semantics the reference's document.rs:87-89 TODO
    stops short of and ES implements via Lucene block-join.  Here
    array elements index as child documents carrying their parent's
    key (mapping.prepare_docs), and the engine joins matched children
    back to parents, combining child scores per ``score_mode``
    (ES default avg; none = filter-only, score 0)."""
    path: str
    query: "Query"
    score_mode: str = "avg"       # avg | sum | max | none
    #: ES ``inner_hits`` request: (name, size, from) — the engine's
    #: hits() attaches, per parent hit, the top matching CHILD rows
    #: of this nested query (score desc, doc_id asc).  None = off.
    inner_hits: Optional[tuple] = None


Query = Union[All, NoneQuery, Term, Prefix, Wildcard, Regexp, Fuzzy,
              Conjunction, Disjunction, DisjunctionMax, Filter, Exclude,
              Nested, Exists]


def boost(q: Query, factor: float) -> Query:
    """Push a boost multiplier down the tree (query/mod.rs:112-158)."""
    if factor == 1.0:
        return q
    if isinstance(q, All):
        return All(q.score * factor)
    if isinstance(q, NoneQuery):
        return q
    if isinstance(q, Term):
        return replace(q, scorer=replace(q.scorer,
                                         boost=q.scorer.boost * factor))
    if isinstance(q, (Prefix, Wildcard, Regexp, Fuzzy)):
        return replace(q, scorer=replace(q.scorer,
                                         boost=q.scorer.boost * factor))
    if isinstance(q, (Conjunction, Disjunction, DisjunctionMax)):
        return type(q)(tuple(boost(c, factor) for c in q.queries))
    if isinstance(q, Filter):
        return Filter(boost(q.query, factor), q.filter)
    if isinstance(q, Exclude):
        return Exclude(boost(q.query, factor), q.exclude)
    if isinstance(q, Nested):
        return Nested(q.path, boost(q.query, factor), q.score_mode,
                      q.inner_hits)
    if isinstance(q, Exists):
        return replace(q, score=q.score * factor)
    raise TypeError(type(q))


def inner_hits_nodes(q: Query) -> List["Nested"]:
    """Every Nested node in the tree with an inner_hits request, in
    depth-first order (hits() attaches one result set per node)."""
    out = _inner_hits_walk(q)
    names = [n.inner_hits[0] for n in out]
    if len(set(names)) != len(names):
        # ES rejects duplicate inner_hits names (the default name is
        # the path, so two requesting nodes on one path collide); a
        # silent overwrite would drop one node's children
        dup = sorted({n for n in names if names.count(n) > 1})
        raise QueryParseError(
            f"duplicate inner_hits name(s): {dup} — give each "
            f"inner_hits request a distinct 'name'")
    return out


def _inner_hits_walk(q: Query) -> List["Nested"]:
    if isinstance(q, Nested):
        out = [q] if q.inner_hits is not None else []
        return out + _inner_hits_walk(q.query)
    if isinstance(q, (Conjunction, Disjunction, DisjunctionMax)):
        return [n for c in q.queries for n in _inner_hits_walk(c)]
    if isinstance(q, Filter):
        return _inner_hits_walk(q.query) + _inner_hits_walk(q.filter)
    if isinstance(q, Exclude):
        return _inner_hits_walk(q.query) + _inner_hits_walk(q.exclude)
    return []


# ---------------------------------------------------------------------------
# Parsing context: field → analyzer resolution
# ---------------------------------------------------------------------------

@dataclass
class ParseContext:
    """What the parser needs from index metadata: per-field search
    analyzer (None = unanalyzed: the raw string is a single term,
    match_query.rs:41-43).  Score suppression for filter branches
    (query_parser/mod.rs:48-52) is the evaluators' business: each
    evaluates a Filter/Exclude branch with scoring elided."""
    fields: dict = field(default_factory=lambda: {"text": "standard"})
    analyzers: Optional[object] = None  # AnalyzerRegistry
    #: mapping-level types of non-string fields (integer|boolean|date);
    #: term/terms values on these normalize through the typed
    #: canonicalization (terms.py ↔ json_value_to_term,
    #: src/api/utils.rs:63-77 + src/search/term.rs:27-48)
    field_types: dict = field(default_factory=dict)
    #: query-side analyzer overrides (mapping/mod.rs:161-166 via
    #: FieldSearchOptions → match_query.rs:36-44): e.g. an edge-ngram
    #: INDEX analyzer paired with a plain SEARCH analyzer
    search_analyzers: dict = field(default_factory=dict)
    #: declared ES `nested`-type paths; a `nested` query's path must
    #: be one of these (its subfields appear in `fields` as dotted
    #: names like ordinary object fields)
    nested_paths: tuple = ()

    def analyze(self, fname: str, text: str) -> List[str]:
        analyzer_name = self.search_analyzers.get(
            fname, self.fields.get(fname))
        if analyzer_name is None:
            return [text]
        from ..analysis.analyzers import AnalyzerRegistry
        registry = self.analyzers or AnalyzerRegistry()
        return registry.get(analyzer_name).terms(text)

    def term_value(self, fname: str, v) -> str:
        """Typed term normalization: a date query value in ANY
        ISO-8601 offset spelling hits the UTC-canonical indexed term
        (term.rs:94-137 tz goldens); untyped fields keep the
        json_value_to_term stringification."""
        ftype = self.field_types.get(fname)
        if ftype:
            from ..terms import canonical_term_string
            try:
                return canonical_term_string(ftype, v)
            except ValueError as exc:
                raise QueryParseError(str(exc)) from None
        return _as_string(v)


def _as_string(v) -> str:
    """json_value_to_term-ish (utils.rs:63-77): strings pass through,
    numbers/bools stringify."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, str)):
        return str(v)
    raise QueryParseError(f"expected scalar, got {type(v).__name__}")


# ---------------------------------------------------------------------------
# Individual parsers (one per reference query_parser file)
# ---------------------------------------------------------------------------

def _parse_match(body: dict, ctx: ParseContext) -> Query:
    """match_query.rs:22-126."""
    if not isinstance(body, dict) or len(body) != 1:
        raise QueryParseError("match expects exactly one field")
    fname, spec = next(iter(body.items()))
    if fname not in ctx.fields:
        raise QueryParseError(f"unknown field: {fname!r}")
    if isinstance(spec, dict):
        query_text = spec.get("query")
        if query_text is None:
            raise QueryParseError("match missing 'query'")
        operator = spec.get("operator", "or")
        boost_v = float(spec.get("boost", 1.0))
    else:
        query_text, operator, boost_v = spec, "or", 1.0
    if operator not in ("or", "and"):
        raise QueryParseError(f"bad operator: {operator!r}")
    terms = ctx.analyze(fname, _as_string(query_text))
    if not terms:
        return NoneQuery()
    children = tuple(Term(fname, t) for t in terms)
    q: Query = (children[0] if len(children) == 1 else
                (Conjunction(children) if operator == "and"
                 else Disjunction(children)))
    return boost(q, boost_v)


def _parse_multi_match(body: dict, ctx: ParseContext) -> Query:
    """multi_match_query.rs:22-141: per-field match combined with
    DisjunctionMax; '^2' field-boost syntax (utils.rs:49-60)."""
    if not isinstance(body, dict):
        raise QueryParseError("multi_match expects an object")
    query_text = body.get("query")
    fields = body.get("fields")
    if query_text is None or not isinstance(fields, list) or not fields:
        raise QueryParseError("multi_match needs 'query' and 'fields'")
    operator = body.get("operator", "or")
    boost_v = float(body.get("boost", 1.0))
    children = []
    for fspec in fields:
        fname, _, fboost = str(fspec).partition("^")
        factor = float(fboost) if fboost else 1.0
        sub = _parse_match(
            {fname: {"query": query_text, "operator": operator}}, ctx)
        children.append(boost(sub, factor))
    q: Query = (children[0] if len(children) == 1
                else DisjunctionMax(tuple(children)))
    return boost(q, boost_v)


def _parse_match_all(body: dict, ctx: ParseContext) -> Query:
    return All(float((body or {}).get("boost", 1.0)))


def _parse_match_none(body: dict, ctx: ParseContext) -> Query:
    return NoneQuery()


def _parse_term(body: dict, ctx: ParseContext) -> Query:
    """term_query.rs:19-79 — exact, unanalyzed."""
    if not isinstance(body, dict) or len(body) != 1:
        raise QueryParseError("term expects exactly one field")
    fname, spec = next(iter(body.items()))
    if fname not in ctx.fields:
        raise QueryParseError(f"unknown field: {fname!r}")
    if isinstance(spec, dict):
        value = spec.get("value")
        if value is None:
            raise QueryParseError("term missing 'value'")
        boost_v = float(spec.get("boost", 1.0))
    else:
        value, boost_v = spec, 1.0
    return boost(Term(fname, ctx.term_value(fname, value)), boost_v)


def _parse_terms(body: dict, ctx: ParseContext) -> Query:
    """terms_query.rs:17-54 — Disjunction of exact terms."""
    if not isinstance(body, dict) or len(body) != 1:
        raise QueryParseError("terms expects exactly one field")
    fname, values = next(iter(body.items()))
    if fname not in ctx.fields:
        raise QueryParseError(f"unknown field: {fname!r}")
    if not isinstance(values, list):
        raise QueryParseError("terms expects a list of values")
    return Disjunction(tuple(Term(fname, ctx.term_value(fname, v))
                             for v in values))


def _parse_prefix(body: dict, ctx: ParseContext) -> Query:
    """prefix_query.rs:19-83 — accepts 'value' or 'prefix' keys."""
    if not isinstance(body, dict) or len(body) != 1:
        raise QueryParseError("prefix expects exactly one field")
    fname, spec = next(iter(body.items()))
    if fname not in ctx.fields:
        raise QueryParseError(f"unknown field: {fname!r}")
    if isinstance(spec, dict):
        value = spec.get("value", spec.get("prefix"))
        if value is None:
            raise QueryParseError("prefix missing 'value'")
        boost_v = float(spec.get("boost", 1.0))
    else:
        value, boost_v = spec, 1.0
    return boost(Prefix(fname, _as_string(value)), boost_v)


def _parse_wildcard(body: dict, ctx: ParseContext) -> Query:
    """ES-style wildcard query: {"wildcard": {field: "pa*t?rn"}} or
    the object form with 'value'/'wildcard' + 'boost' keys.  The
    pattern is NOT analyzed (it addresses dictionary terms directly,
    like prefix/term)."""
    if not isinstance(body, dict) or len(body) != 1:
        raise QueryParseError("wildcard expects exactly one field")
    fname, spec = next(iter(body.items()))
    if fname not in ctx.fields:
        raise QueryParseError(f"unknown field: {fname!r}")
    if isinstance(spec, dict):
        value = spec.get("value", spec.get("wildcard"))
        if value is None:
            raise QueryParseError("wildcard missing 'value'")
        boost_v = float(spec.get("boost", 1.0))
    else:
        value, boost_v = spec, 1.0
    return boost(Wildcard(fname, _as_string(value)), boost_v)


def _parse_regexp(body: dict, ctx: ParseContext) -> Query:
    """ES-style regexp query: {"regexp": {field: "pat.*rn"}} or the
    object form with 'value' + 'boost'.  Whole-term match (implicit
    anchoring), pattern not analyzed."""
    if not isinstance(body, dict) or len(body) != 1:
        raise QueryParseError("regexp expects exactly one field")
    fname, spec = next(iter(body.items()))
    if fname not in ctx.fields:
        raise QueryParseError(f"unknown field: {fname!r}")
    if isinstance(spec, dict):
        value = spec.get("value", spec.get("regexp"))
        if value is None:
            raise QueryParseError("regexp missing 'value'")
        boost_v = float(spec.get("boost", 1.0))
    else:
        value, boost_v = spec, 1.0
    return boost(Regexp(fname, _as_string(value)), boost_v)


def _parse_fuzzy(body: dict, ctx: ParseContext) -> Query:
    """ES-style fuzzy query: {"fuzzy": {field: "value"}} or the
    object form with 'value', 'fuzziness' (int or "AUTO", default
    AUTO), 'prefix_length', 'boost'."""
    if not isinstance(body, dict) or len(body) != 1:
        raise QueryParseError("fuzzy expects exactly one field")
    fname, spec = next(iter(body.items()))
    if fname not in ctx.fields:
        raise QueryParseError(f"unknown field: {fname!r}")
    fuzz, plen, boost_v = "AUTO", 0, 1.0
    if isinstance(spec, dict):
        value = spec.get("value")
        if value is None:
            raise QueryParseError("fuzzy missing 'value'")
        fuzz = spec.get("fuzziness", "AUTO")
        plen = int(spec.get("prefix_length", 0))
        boost_v = float(spec.get("boost", 1.0))
    else:
        value = spec
    value = _as_string(value)
    if isinstance(fuzz, str):
        if fuzz.upper() != "AUTO":
            raise QueryParseError(f"bad fuzziness: {fuzz!r}")
        fuzz = auto_fuzziness(value)
    if not (0 <= int(fuzz) <= 2):
        raise QueryParseError("fuzziness must be 0..2")
    return boost(Fuzzy(fname, value, int(fuzz), plen), boost_v)


def _parse_and(body, ctx: ParseContext) -> Query:
    if not isinstance(body, list) or not body:
        raise QueryParseError("'and' expects a non-empty list")
    return Conjunction(tuple(parse(q, ctx) for q in body))


def _parse_or(body, ctx: ParseContext) -> Query:
    if not isinstance(body, list) or not body:
        raise QueryParseError("'or' expects a non-empty list")
    return Disjunction(tuple(parse(q, ctx) for q in body))


def _parse_dis_max(body: dict, ctx: ParseContext) -> Query:
    qs = (body or {}).get("queries")
    if not isinstance(qs, list) or not qs:
        raise QueryParseError("dis_max expects a non-empty 'queries'")
    q: Query = DisjunctionMax(tuple(parse(x, ctx) for x in qs))
    return boost(q, float(body.get("boost", 1.0)))


def _parse_not(body, ctx: ParseContext) -> Query:
    """not_query.rs:16-30 — Exclude{All, q} with q score-less."""
    return Exclude(All(), parse(body, ctx))


def _parse_filtered(body: dict, ctx: ParseContext) -> Query:
    """filtered_query.rs:17-61 — query defaults to match_all; the
    filter is built score-less (mod.rs:48-52)."""
    if not isinstance(body, dict):
        raise QueryParseError("filtered expects an object")
    inner = (parse(body["query"], ctx) if "query" in body else All())
    if "filter" not in body:
        raise QueryParseError("filtered missing 'filter'")
    return Filter(inner, parse(body["filter"], ctx))


def _parse_constant_score(body: dict, ctx: ParseContext) -> Query:
    """constant_score_query.rs:16-50 — Filter{All{boost}, filter}."""
    if not isinstance(body, dict) or "filter" not in body:
        raise QueryParseError("constant_score missing 'filter'")
    boost_v = float(body.get("boost", 1.0))
    return Filter(All(boost_v), parse(body["filter"], ctx))


def _parse_nested(body: dict, ctx: ParseContext) -> Query:
    """ES nested query: {"nested": {"path": p, "query": q,
    "score_mode": m}}.  Only declared nested-type paths are legal;
    the inner query parses in the same context (its fields are the
    dotted subfield names)."""
    if not isinstance(body, dict) or "path" not in body \
            or "query" not in body:
        raise QueryParseError("nested needs 'path' and 'query'")
    path = body["path"]
    if path not in ctx.nested_paths:
        raise QueryParseError(
            f"unknown nested path: {path!r} (declared: "
            f"{sorted(ctx.nested_paths)})")
    mode = body.get("score_mode", "avg")
    if mode not in ("avg", "sum", "max", "none"):
        raise QueryParseError(f"bad score_mode: {mode!r}")
    ih = body.get("inner_hits")
    inner_hits: Optional[tuple] = None
    if ih is not None:
        if not isinstance(ih, dict):
            raise QueryParseError("inner_hits must be an object")
        unknown = set(ih) - {"name", "size", "from"}
        if unknown:
            raise QueryParseError(
                f"inner_hits: unsupported keys {sorted(unknown)}")
        inner_hits = (str(ih.get("name", path)),
                      int(ih.get("size", 3)), int(ih.get("from", 0)))
    return Nested(path, parse(body["query"], ctx), mode, inner_hits)


def _parse_exists(body: dict, ctx: ParseContext) -> Query:
    """{"exists": {"field": f}} — field value present (non-null;
    non-empty for arrays).  Constant score 1.0 in query context."""
    if not isinstance(body, dict) or "field" not in body \
            or not isinstance(body["field"], str):
        raise QueryParseError("exists needs a string 'field'")
    return Exists(body["field"])


def _parse_missing(body: dict, ctx: ParseContext) -> Query:
    """{"missing": {"field": f}} — the ES-1.x complement filter:
    documents where the field is absent.  Expressed through the
    ordinary boolean algebra as Exclude(All, Exists), so planner
    folding and universe semantics come for free."""
    if not isinstance(body, dict) or "field" not in body \
            or not isinstance(body["field"], str):
        raise QueryParseError("missing needs a string 'field'")
    return Exclude(All(1.0), Exists(body["field"]))


_PARSERS = {
    "match": _parse_match,
    "nested": _parse_nested,
    "multi_match": _parse_multi_match,
    "match_all": _parse_match_all,
    "match_none": _parse_match_none,
    "term": _parse_term,
    "terms": _parse_terms,
    "in": _parse_terms,
    "prefix": _parse_prefix,
    "wildcard": _parse_wildcard,
    "regexp": _parse_regexp,
    "fuzzy": _parse_fuzzy,
    "and": _parse_and,
    "or": _parse_or,
    "dis_max": _parse_dis_max,
    "not": _parse_not,
    "filtered": _parse_filtered,
    "constant_score": _parse_constant_score,
    "exists": _parse_exists,
    "missing": _parse_missing,
}


def parse(query_json: dict, ctx: Optional[ParseContext] = None) -> Query:
    """Dispatch on the single top-level key (query_parser/mod.rs:97-110)."""
    ctx = ctx or ParseContext()
    if not isinstance(query_json, dict) or len(query_json) != 1:
        raise QueryParseError("query object must have exactly one key")
    key, body = next(iter(query_json.items()))
    try:
        parser = _PARSERS[key]
    except KeyError:
        raise QueryParseError(f"unrecognized query type: {key!r}") from None
    return parser(body, ctx)

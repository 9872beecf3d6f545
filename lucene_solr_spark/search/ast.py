"""Query AST — the engine's logical query plan.

A small algebra mirroring Lucene's Query tree (search/Query.java and
subclasses, SURVEY §2.2-§2.3). The executor compiles a tree into a
DataFrame program; rewrite() applies the same simplifications
BooleanQuery.rewrite does (single-clause unwrap, clause dedup).

Also includes a parser for the benchmark query mini-language used by
lucene/benchmark/conf/query-terms.txt ("a AND b", "(a AND b) OR c",
bare terms, quoted phrases).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, fields

from pyspark.sql import functions as F


class ParseError(ValueError):
    """A query string parse_query cannot read: unbalanced or
    truncated syntax, an unknown field, or nesting deeper than
    MAX_PARSE_DEPTH."""


class Query:
    def rewrite(self) -> "Query":
        return self

    def key(self) -> str:
        """Canonical clause-ordering key (used to fix float summation
        order deterministically — SURVEY §7 'float32 determinism')."""
        raise NotImplementedError

    def nodes(self):
        """This node and every Query below it, depth first."""
        yield self
        for v in (getattr(self, f.name) for f in fields(self)):
            for c in v if isinstance(v, tuple) else (v,):
                if isinstance(c, Query):
                    yield from c.nodes()


@dataclass(frozen=True)
class TermQ(Query):
    """TermQuery (search/TermQuery.java) — BM25-scored single term."""
    term: str
    boost: float = 1.0

    def key(self) -> str:
        return f"t:{self.term}"


@dataclass(frozen=True)
class MatchAllQ(Query):
    """MatchAllDocsQuery (search/MatchAllDocsQuery.java): score=boost."""
    boost: float = 1.0

    def key(self) -> str:
        return "*"


@dataclass(frozen=True)
class PhraseQ(Query):
    """PhraseQuery (search/PhraseQuery.java): terms at consecutive
    positions (slop=0 → ExactPhraseScorer; slop>0 → sloppy freq)."""
    terms: tuple[str, ...]
    slop: int = 0
    boost: float = 1.0

    def key(self) -> str:
        return "p:" + " ".join(self.terms)


@dataclass(frozen=True)
class MultiPhraseQ(Query):
    """MultiPhraseQuery (search/MultiPhraseQuery.java): a phrase whose
    slots each accept ANY of a set of terms (OR-per-position) — the
    query produced by analysis-time synonym expansion. slop follows
    PhraseQuery semantics."""
    slots: tuple[tuple[str, ...], ...]
    slop: int = 0
    boost: float = 1.0

    def key(self) -> str:
        return "mp:" + " ".join("|".join(sorted(s)) for s in self.slots)


@dataclass(frozen=True)
class AndQ(Query):
    """BooleanQuery with all-MUST clauses (ConjunctionDISI leapfrog →
    inner joins on docid; scores sum)."""
    clauses: tuple[Query, ...]

    def rewrite(self) -> Query:
        cls = tuple(dict.fromkeys(c.rewrite() for c in self.clauses))
        return cls[0] if len(cls) == 1 else AndQ(cls)

    def key(self) -> str:
        return "and(" + ",".join(sorted(c.key() for c in self.clauses)) + ")"


@dataclass(frozen=True)
class OrQ(Query):
    """BooleanQuery with SHOULD clauses; min_should_match → n-of-m
    (MinShouldMatchSumScorer → groupBy + HAVING count >= n)."""
    clauses: tuple[Query, ...]
    min_should_match: int = 1

    def rewrite(self) -> Query:
        cls = tuple(dict.fromkeys(c.rewrite() for c in self.clauses))
        if len(cls) == 1 and self.min_should_match <= 1:
            return cls[0]
        return OrQ(cls, self.min_should_match)

    def key(self) -> str:
        return "or(" + ",".join(sorted(c.key() for c in self.clauses)) + ")"


@dataclass(frozen=True)
class NotQ(Query):
    """MUST + MUST_NOT (ReqExclScorer → left_anti join)."""
    positive: Query
    negative: Query

    def rewrite(self) -> Query:
        return NotQ(self.positive.rewrite(), self.negative.rewrite())

    def key(self) -> str:
        return f"not({self.positive.key()},{self.negative.key()})"


@dataclass(frozen=True)
class DisMaxQ(Query):
    """DisjunctionMaxQuery (search/DisjunctionMaxQuery.java:1-249):
    score = max(clause scores) + tie_breaker * (sum of the rest)."""
    clauses: tuple[Query, ...]
    tie_breaker: float = 0.0

    def rewrite(self) -> Query:
        cls = tuple(dict.fromkeys(c.rewrite() for c in self.clauses))
        return DisMaxQ(cls, self.tie_breaker)

    def key(self) -> str:
        return "dmax(" + ",".join(sorted(c.key() for c in self.clauses)) + ")"


@dataclass(frozen=True)
class SynonymQ(Query):
    """SynonymQuery (search/SynonymQuery.java): terms scored as one
    pseudo-term — tf summed across terms, df = max of the terms' dfs."""
    terms: tuple[str, ...]
    boost: float = 1.0

    def key(self) -> str:
        return "syn(" + ",".join(sorted(self.terms)) + ")"


@dataclass(frozen=True)
class BlendedTermQ(Query):
    """BlendedTermQuery (search/BlendedTermQuery.java): the terms are
    scored as independent SHOULD clauses but with BLENDED statistics —
    every term scores with df = max(df of the blended terms), so
    cross-term scores are comparable (the reference blends df/ttf
    across fields; single-field here, so the blend is across terms)."""
    terms: tuple[str, ...]
    boost: float = 1.0

    def key(self) -> str:
        return "blend(" + ",".join(sorted(self.terms)) + ")"


@dataclass(frozen=True)
class ReqOptQ(Query):
    """MUST + optional SHOULD (ReqOptSumScorer: required score plus
    the optional clause's score when it also matches)."""
    required: Query
    optional: Query

    def rewrite(self) -> Query:
        return ReqOptQ(self.required.rewrite(), self.optional.rewrite())

    def key(self) -> str:
        return f"reqopt({self.required.key()},{self.optional.key()})"


@dataclass(frozen=True)
class SpanNearQ(Query):
    """Two-term positional proximity (search/spans/SpanNearQuery.java
    shape): occurrences of ``second`` within ``slop`` positions after
    ``first`` (in_order) or within +/- slop (unordered). Constant
    score; the match count is exposed by the evaluator."""
    first: str
    second: str
    slop: int = 0
    in_order: bool = True
    boost: float = 1.0

    def key(self) -> str:
        return f"near({self.first},{self.second},{self.slop},{self.in_order})"


def _span_key(node) -> str:
    return node if isinstance(node, str) else node.key()


@dataclass(frozen=True)
class SpanOrNQ(Query):
    """SpanOrQuery (search/spans/SpanOrQuery.java): the union of the
    clauses' spans. Clauses are span nodes: term strings, SpanOrNQ, or
    SpanNearNQ. Useful only inside SpanNearNQ (a top-level or-of-terms
    is an OrQ); constant score ``boost`` when evaluated standalone."""
    clauses: tuple
    boost: float = 1.0

    def key(self) -> str:
        return "spanor(" + ",".join(sorted(_span_key(c)
                                           for c in self.clauses)) + ")"


@dataclass(frozen=True)
class SpanNearNQ(Query):
    """N-ary ORDERED SpanNear over nested sub-spans (search/spans/
    SpanNearQuery.java + NearSpansOrdered.java): clauses match in
    order, each next sub-span starting at or after the previous one's
    end, with total gap <= slop (NearSpansOrdered.atMatch's width
    test). Clauses are span nodes: term strings, SpanOrNQ, SpanNearNQ.
    Constant score = boost (the SpanNearQ contract). Matching
    semantics live in search/spannest.py — shared verbatim by the
    segment kernel and the flat executor. Ordered only: the reference
    delegates unordered nesting to NearSpansUnordered, whose
    overlapping-span accounting we scope to the two-term SpanNearQ."""
    clauses: tuple
    slop: int = 0
    boost: float = 1.0

    def key(self) -> str:
        return ("spannear(" + ",".join(_span_key(c) for c in self.clauses)
                + f",{self.slop})")


@dataclass(frozen=True)
class PayloadScoreQ(Query):
    """PayloadScoreQuery (lucene/queries/src/java/org/apache/lucene/
    queries/payloads/PayloadScoreQuery.java + PayloadFunction.java's
    Min/Max/Average/SumPayloadFunction): per matching doc, score = the
    payload function folded over the term's per-occurrence payload
    ints, optionally multiplied by the wrapped query's BM25 score
    (includeSpanScore).

    Payload source: the index's .pay-analogue stream — the shipped
    decoder reads per-occurrence payload int = token START offset
    (TokenOffsetPayloadTokenFilter.java's payload shape; the reference
    itself interleaves payloads and offsets in one .pay file,
    Lucene50PostingsFormat.java:266-315). A flat postings frame
    carrying an explicit ``payloads`` array column overrides it
    (analyzer-assigned payloads, the DelimitedPayloadTokenFilter
    shape). PayloadCheckQParserPlugin stays descoped: it needs
    analyzer-ASSIGNED per-position payloads, which the corpus's
    analyzer chain does not produce (documented)."""
    term: str
    func: str = "max"   # min | max | avg | sum
    include_span_score: bool = False
    boost: float = 1.0

    def key(self) -> str:
        return (f"payscore({self.term},{self.func},"
                f"{self.include_span_score})")


@dataclass(frozen=True)
class SpanPayloadCheckQ(Query):
    """SpanPayloadCheckQuery (lucene/queries/src/java/org/apache/
    lucene/queries/payloads/SpanPayloadCheckQuery.java +
    PayloadCheckQParserPlugin): matches only the spans of the wrapped
    span query whose per-position payload ints equal ``payloads``
    (the PayloadChecker collects payloads left-to-right and compares
    the whole list). The wrapped span here is the ordered adjacent
    phrase ``terms`` (slop 0 — the SpanNearQuery shape payload checks
    wrap in practice). Payload source is the same stream
    PayloadScoreQ reads: an explicit ``payloads`` postings column
    when present, else the .pay-analogue offset payloads (token START
    offsets, TokenOffsetPayloadTokenFilter shape) — so a payload list
    like (0,) means "the span sits at document start".

    Deviation (documented): the reference scores the surviving spans
    like the wrapped span query; offset payloads make the surviving
    span unique per doc, so this node is constant-score boost (the
    filter role payload_check serves in Solr)."""
    terms: tuple
    payloads: tuple
    boost: float = 1.0

    def key(self) -> str:
        return (f"paycheck({','.join(self.terms)};"
                f"{','.join(str(int(p)) for p in self.payloads)})")


@dataclass(frozen=True)
class TermAutomatonQ(Query):
    """TermAutomatonQuery (sandbox/search/TermAutomatonQuery.java): an
    automaton whose transitions are terms (or ANY), matched against
    consecutive token positions — the generalization of Phrase /
    MultiPhrase / synonym-graph queries. GraphQuery-style token graphs
    compile to exactly this (util/graph/GraphTokenStreamFiniteStrings
    .java enumerates a token graph's finite strings the same way).

    ``transitions``: (src_state, dst_state, term-or-None) tuples; None
    is an ANY transition. State 0 is the start; ``accept`` lists the
    accepting states. The automaton must be ACYCLIC (finite strings);
    matching enumerates the paths and a doc's freq is the number of
    distinct start positions from which some path matches. Deviation
    from the reference, documented: ANY steps over one position
    ordinal, which includes analysis holes (stopped tokens), since the
    index does not record which positions are occupied.
    """
    transitions: tuple
    accept: tuple
    boost: float = 1.0

    def key(self) -> str:
        return f"auto({sorted(self.transitions)!r},{sorted(self.accept)!r})"

    def finite_strings(self, max_paths: int = 256) -> list[tuple]:
        """All accepted term sequences (None = ANY slot), by DFS from
        state 0. Raises on cycles or path blowup — the reference's
        automata here are determinized token graphs, always DAGs."""
        adj: dict[int, list[tuple[int, str | None]]] = {}
        for src, dst, term in self.transitions:
            adj.setdefault(int(src), []).append((int(dst), term))
        accept = set(int(a) for a in self.accept)
        out: list[tuple] = []

        def walk(state: int, path: tuple, seen: tuple) -> None:
            if state in seen:
                raise ValueError("cyclic term automaton (infinite strings)")
            if state in accept and path:
                out.append(path)
                if len(out) > max_paths:
                    raise ValueError(f"more than {max_paths} finite strings")
            for dst, term in sorted(adj.get(state, ()),
                                    key=lambda x: (x[0], x[1] or "")):
                walk(dst, path + (term,), seen + (state,))

        walk(0, (), ())
        if not out:
            raise ValueError("term automaton accepts no strings")
        if any(all(t is None for t in p) for p in out):
            raise ValueError("all-ANY path matches every position")
        if any(p[0] is None or p[-1] is None for p in out):
            # leading/trailing ANY would need to know which position
            # ordinals exist in a doc; the index records positions of
            # surviving tokens only (holes are anonymous), so bound
            # every path by real terms
            raise ValueError("paths must start and end with a term")
        return out


@dataclass(frozen=True)
class ConstQ(Query):
    """ConstantScoreQuery: match inner, score = boost."""
    inner: Query
    boost: float = 1.0

    def rewrite(self) -> Query:
        return ConstQ(self.inner.rewrite(), self.boost)

    def key(self) -> str:
        return f"const({self.inner.key()})"


@dataclass(frozen=True)
class FieldedQ(Query):
    """Field-qualified subquery — the per-field dimension of Lucene's
    Term (index/Term.java: a Term is (field, text); index/FieldInfos
    .java and codecs/perfield/PerFieldPostingsFormat.java keep
    postings/norms/stats per field). Instead of threading a field
    through every leaf node, the field is a WRAPPER over any
    single-field subtree; MultiFieldSearcher routes ``inner`` to
    ``fld``'s per-field index (its own df/avgdl/docCount/norms, so
    scores match a standalone index of that field bit-for-bit)."""
    fld: str
    inner: Query

    def rewrite(self) -> Query:
        inner = self.inner.rewrite()
        if isinstance(inner, FieldedQ):  # innermost qualifier wins,
            return inner                 # like Lucene's parser
        return FieldedQ(self.fld, inner)

    def key(self) -> str:
        return f"f[{self.fld}]({self.inner.key()})"


class MultiTermQ(Query):
    """Base for term-expanding queries (search/MultiTermQuery.java).

    Default rewrite is CONSTANT_SCORE_REWRITE: matching docs get
    score = boost regardless of tf (MultiTermQueryConstantScoreWrapper).
    Both searchers expand the query against the term dictionary with
    the one Column predicate ``term_predicate()`` (Java-regex rlike,
    Spark levenshtein) — the Spark analogue of FST/automaton
    intersection (codecs/blocktree/IntersectTermsEnum.java).
    """
    boost: float = 1.0

    def term_predicate(self):  # -> boolean Column over F.col("term")
        raise NotImplementedError


@dataclass(frozen=True)
class PrefixQ(MultiTermQ):
    prefix: str
    boost: float = 1.0

    def key(self) -> str:
        return f"pre:{self.prefix}"

    def term_predicate(self):
        return F.col("term").startswith(self.prefix)


@dataclass(frozen=True)
class WildcardQ(MultiTermQ):
    """WildcardQuery: * = any run, ? = single char."""
    pattern: str
    boost: float = 1.0

    def key(self) -> str:
        return f"wc:{self.pattern}"

    def to_regex(self) -> str:
        out = []
        for ch in self.pattern:
            if ch == "*":
                out.append(".*")
            elif ch == "?":
                out.append(".")
            else:
                out.append(re.escape(ch))
        return "^" + "".join(out) + "$"

    def term_predicate(self):
        return F.col("term").rlike(self.to_regex())


@dataclass(frozen=True)
class RegexpQ(MultiTermQ):
    regex: str
    boost: float = 1.0

    def key(self) -> str:
        return f"re:{self.regex}"

    def term_predicate(self):
        regex = "^" + self.regex + "$"
        _check_java_regex(regex)
        return F.col("term").rlike(regex)


def _check_java_regex(regex: str) -> None:
    """ParseError unless java.util.regex.Pattern (rlike's semantics)
    compiles ``regex``: one py4j call on the driver, no Spark job, so a
    bad regexp fails before the expansion job starts."""
    from py4j.protocol import Py4JJavaError
    from pyspark import SparkContext
    from pyspark.errors import IllegalArgumentException

    sc = SparkContext._active_spark_context
    if sc is None:  # no session yet: nothing to compile against
        return
    try:
        sc._jvm.java.util.regex.Pattern.compile(regex)
    except (Py4JJavaError, IllegalArgumentException) as e:
        # a PatternSyntaxException; a SparkSession's py4j handler
        # converts it to IllegalArgumentException
        why = str(e).strip().splitlines()[0]
        raise ParseError(f"bad regexp {regex!r}: {why}") from None


@dataclass(frozen=True)
class FuzzyQ(MultiTermQ):
    """FuzzyQuery: terms within Levenshtein distance <= max_edits
    (search/FuzzyQuery.java; automaton replaced by Spark's built-in
    levenshtein())."""
    term: str
    max_edits: int = 2
    boost: float = 1.0

    def key(self) -> str:
        return f"fz:{self.term}~{self.max_edits}"

    def term_predicate(self):
        return F.levenshtein(F.col("term"), F.lit(self.term)) <= self.max_edits


@dataclass(frozen=True)
class TermRangeQ(MultiTermQ):
    """TermRangeQuery: lexicographic term range."""
    lower: str | None
    upper: str | None
    include_lower: bool = True
    include_upper: bool = True
    boost: float = 1.0

    def key(self) -> str:
        return f"rng:{self.lower}..{self.upper}"

    def term_predicate(self):
        t, pred = F.col("term"), F.lit(True)
        if self.lower is not None:
            pred &= t >= self.lower if self.include_lower else t > self.lower
        if self.upper is not None:
            pred &= t <= self.upper if self.include_upper else t < self.upper
        return pred


@dataclass(frozen=True)
class TermInSetQ(MultiTermQ):
    """TermInSetQuery (search/TermInSetQuery.java): IN-list."""
    terms: tuple[str, ...] = field(default_factory=tuple)
    boost: float = 1.0

    def key(self) -> str:
        return "in:" + ",".join(sorted(self.terms))

    def term_predicate(self):
        return F.col("term").isin(list(self.terms))


# --- mini-language parser ------------------------------------------------
#
# The benchmark mini-language (query-terms.txt style) extended with the
# most-used ExtendedDismaxQParser request syntax
# (solr/core/src/java/org/apache/solr/search/ExtendedDismaxQParser.java):
#   field:term            field-qualified term (single indexed field
#                         'text' in this engine; unknown fields raise,
#                         like an undefined Solr schema field)
#   term^2.5              per-clause boost (BoostQuery)
#   "a b"~2               sloppy phrase (slop suffix)
#   +term / -term         required / prohibited markers in an implicit
#                         clause list: `web +spider -crawl` scores web
#                         optionally, requires spider, excludes crawl
#                         (MUST/SHOULD -> ReqOptSumScorer shape)
#   a b c                 implicit OR (edismax default q.op=OR)
# plus the classic LuceneQParser multi-term leaves
# (solr/core/src/java/org/apache/solr/search/LuceneQParserPlugin.java /
#  lucene/queryparser/classic/QueryParserBase.java):
#   te*m, ?erm            wildcard (trailing-*-only -> PrefixQuery)
#   term~ / term~1        fuzzy (default 2 edits)
#   [a TO b] / {a TO b}   term range, inclusive / exclusive, * = open
#   /rege?xp/             regexp query
#   *:*                   MatchAllDocsQuery

# classic-grammar completion (lucene/queryparser/classic/
# QueryParser.jj): && / || / ! operator aliases, backslash escaping of
# specials (\+ \- \: \( \" \* ... — the escaped char is literal term
# text, never an operator/wildcard), and parenthesized FIELD GROUPS
# `title:(a OR b)` where the field scopes every bare leaf inside
# (QueryParserBase.getFieldQuery's field threading). Documented
# deviation: AND binds tighter than OR here (the classic parser's
# one-token operator state machine has no precedence; the common
# reading, and the one every downstream dialect of this engine uses).
_TOKEN_RE = re.compile(
    r'\(|\)'
    r'|&&|\|\||!(?=\S)'
    r'|\w+:(?=\()'
    r'|(?:\w+:)?"[^"]*"(?:~\d+)?(?:\^[\d.]+)?'
    r'|(?:[\w*]+:)?[\[\{][^\]\}]*[\]\}](?:\^[\d.]+)?'
    r'|/[^/]*/(?:\^[\d.]+)?'
    r'|AND|OR|NOT|[^\s()]+')

# escapes are sentinel-encoded before tokenization so an escaped
# special can never act as syntax; decoded at leaf construction
_ESC_BASE = 0xE000


def _esc_encode(s: str) -> str:
    return re.sub(r"\\(.)",
                  lambda m: chr(_ESC_BASE + ord(m.group(1))), s)


def _esc_decode(s: str) -> str:
    return "".join(chr(ord(c) - _ESC_BASE)
                   if _ESC_BASE <= ord(c) < _ESC_BASE + 0x100 else c
                   for c in s)


INDEXED_FIELDS = ("text",)
# parenthesis nesting parse_query accepts (each level costs the
# recursive-descent parser three Python frames)
MAX_PARSE_DEPTH = 100


def parse_query(s: str, fields: tuple[str, ...] = INDEXED_FIELDS,
                default_field: str = "text",
                default_op: str = "or") -> Query:
    """Parse ``a AND b``, ``(a AND b) OR c``, ``"exact phrase"``,
    ``a NOT b``, plus the edismax-lite extensions documented above.
    AND binds tighter than OR; NOT is infix (a NOT b = +a -b).

    Classic-grammar completion (queryparser/classic/QueryParser.jj):
    ``&&``/``||`` operator aliases, prefix ``!`` (== ``-``),
    backslash escapes (backslash-dash makes ``data-base`` one literal
    term; an escaped ``*``/``?``/``~`` never triggers wildcard/fuzzy),
    and field groups ``f:(a OR b)`` scoping every bare leaf inside.

    ``fields``: the schema's indexed field names — ``f:term`` /
    ``f:"a phrase"`` with f in ``fields`` wraps the leaf in FieldedQ
    (except the ``default_field``, which stays bare so single-field
    indexes see the classic tree); unknown fields raise, like an
    undefined Solr schema field. ``default_op``: Solr's q.op — "or"
    (edismax default; markerless clauses are SHOULD) or "and"
    (markerless clauses become MUST).
    """
    if default_op not in ("or", "and"):
        raise ValueError(f"default_op must be 'or' or 'and': {default_op!r}")
    tokens = _TOKEN_RE.findall(_esc_encode(s))
    tokens = ["AND" if t == "&&" else "OR" if t == "||" else t
              for t in tokens]
    if not tokens:
        raise ParseError(f"empty query: {s!r}")
    pos = depth = 0

    def peek():
        return tokens[pos] if pos < len(tokens) else None

    def eat(tok=None):
        nonlocal pos
        if pos >= len(tokens):
            raise ParseError(f"unexpected end of query in {s!r}")
        t = tokens[pos]
        if tok is not None and t != tok:
            raise ParseError(f"expected {tok}, got {t} in {s!r}")
        pos += 1
        return t

    def _check_field(fld: str) -> str:
        fld = _esc_decode(fld)
        if fld.lower() not in fields:
            raise ParseError(f"unknown field {fld!r} in {s!r}")
        return fld.lower()

    def _wrap(fld: str | None, q: Query) -> Query:
        return q if fld is None or fld == default_field else FieldedQ(fld, q)

    def leaf(tok: str) -> Query:
        boost = 1.0
        m = re.search(r"\^([\d.]+)$", tok)
        if m:
            try:
                boost = float(m.group(1))
            except ValueError:
                raise ParseError(f"bad boost {m.group(0)!r} in {s!r}") from None
            tok = tok[: m.start()]
        m = re.match(r'^(\w+):(".*)$', tok, re.DOTALL)
        if m:
            rest = m.group(2) + (f"^{boost}" if boost != 1.0 else "")
            return _wrap(_check_field(m.group(1)), leaf(rest))
        if tok.startswith('"'):
            slop = 0
            m = re.search(r'~(\d+)$', tok)
            if m:
                slop = int(m.group(1))
                tok = tok[: m.start()]
            words = [_esc_decode(w) for w in tok.strip('"').split()]
            if len(words) == 1 and slop == 0:
                return TermQ(words[0].lower(), boost=boost)
            return PhraseQ(tuple(w.lower() for w in words), slop=slop,
                           boost=boost)
        if tok == "*:*":
            return MatchAllQ(boost=boost)
        m = re.match(r'^(?:(\w+):)?([\[\{])\s*(\S+)\s+TO\s+(\S+)\s*([\]\}])$',
                     tok)
        if m:
            fld = _check_field(m.group(1)) if m.group(1) else None
            lo, hi = m.group(3), m.group(4)
            return _wrap(fld, TermRangeQ(
                None if lo == "*" else _esc_decode(lo).lower(),
                None if hi == "*" else _esc_decode(hi).lower(),
                include_lower=m.group(2) == "[",
                include_upper=m.group(5) == "]", boost=boost))
        if len(tok) >= 2 and tok.startswith("/") and tok.endswith("/"):
            return RegexpQ(_esc_decode(tok[1:-1]), boost=boost)
        fld = None
        if ":" in tok:
            f0, _, term = tok.partition(":")
            fld = _check_field(f0)
            tok = term
        if not tok:
            raise ParseError(f"empty term in {s!r}")
        m = re.search(r'~(\d*)$', tok)
        if m and m.start() > 0:
            edits = int(m.group(1)) if m.group(1) else 2
            return _wrap(fld, FuzzyQ(_esc_decode(tok[: m.start()]).lower(),
                                     max_edits=edits, boost=boost))
        if "*" in tok or "?" in tok:
            # escaped wildcards were sentinel-encoded, so any * / ?
            # seen here is a REAL wildcard; escaped ones fall through
            # to TermQ as literal characters
            if tok.endswith("*") and "*" not in tok[:-1] and "?" not in tok:
                return _wrap(fld, PrefixQ(_esc_decode(tok[:-1]).lower(),
                                          boost=boost))
            return _wrap(fld, WildcardQ(_esc_decode(tok).lower(),
                                        boost=boost))
        return _wrap(fld, TermQ(_esc_decode(tok).lower(), boost=boost))

    def parse_group() -> Query:
        nonlocal depth
        eat("(")
        depth += 1
        if depth > MAX_PARSE_DEPTH:
            raise ParseError(
                f"nesting deeper than {MAX_PARSE_DEPTH} in {s[:40]!r}...")
        q = parse_or()
        eat(")")
        depth -= 1
        return q

    def parse_atom() -> tuple[str, Query]:
        t = peek()
        marker = ""
        if t in ("+", "-", "!"):
            marker = "-" if eat() == "!" else t
            t = peek()
        elif t and len(t) > 1 and t[0] in "+-" and not t[1].isdigit():
            marker = t[0]
            tokens[pos] = t[1:]
            t = tokens[pos]
        if t == "(":
            return marker, parse_group()
        if t is not None and t.endswith(":") and len(t) > 1:
            # field group f:(a OR b) — the field scopes every bare
            # leaf inside (FieldedQ threads it, multifield._strip's
            # ctx rule; == default_field stays bare)
            fld = _check_field(t[:-1])
            eat()
            return marker, _wrap(fld, parse_group())
        return marker, leaf(eat())

    def parse_and() -> tuple[str, Query]:
        marker, first = parse_atom()
        clauses = [first]
        while peek() in ("AND", "NOT"):
            op = eat()
            _, rhs = parse_atom()   # markers are moot under explicit ops
            if op == "AND":
                clauses.append(rhs)
            else:
                left = clauses[0] if len(clauses) == 1 else AndQ(tuple(clauses))
                clauses = [NotQ(left, rhs)]
        return marker, (clauses[0] if len(clauses) == 1 else AndQ(tuple(clauses)))

    def parse_or() -> Query:
        parts = [parse_and()]
        saw_or = False
        while peek() is not None and peek() != ")":
            if peek() == "OR":
                eat("OR")
                saw_or = True
            parts.append(parse_and())
        if len(parts) == 1 and parts[0][0] == "":
            return parts[0][1]
        if default_op == "and" and not saw_or:
            # Solr q.op=AND: IMPLICIT markerless clauses are MUST;
            # a level with an explicit OR keeps its clauses SHOULD
            # (simplification, documented: explicitness is tracked
            # per level, not per pair as the classic state machine
            # does — mixed `a OR b c` levels stay all-SHOULD)
            parts = [("+" if m == "" else m, q) for m, q in parts]
        must = [q for m, q in parts if m == "+"]
        nots = [q for m, q in parts if m == "-"]
        should = [q for m, q in parts if m == ""]
        if not must and not nots:
            return OrQ(tuple(should))
        if must:
            base = must[0] if len(must) == 1 else AndQ(tuple(must))
            if should:
                opt = should[0] if len(should) == 1 else OrQ(tuple(should))
                base = ReqOptQ(base, opt)
        elif should:
            base = should[0] if len(should) == 1 else OrQ(tuple(should))
        else:
            base = MatchAllQ()   # pure-negative query (Solr's rewrite)
        if nots:
            neg = nots[0] if len(nots) == 1 else OrQ(tuple(nots))
            base = NotQ(base, neg)
        return base

    q = parse_or()
    if pos != len(tokens):
        raise ParseError(f"trailing tokens in {s!r}")
    return q.rewrite()

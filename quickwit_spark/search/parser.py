"""Query parser — a small recursive-descent parser for the reference's query
language (docs/reference/query-language.md:8-42; semantics frozen against
quickwit-doc-mapper/src/query_builder.rs):

* terms, quoted phrases, field-scoped clauses ``field:term`` /
  ``field:(sub query)``, grouping parens
* ``AND`` is the default conjunction for bare clause sequences
  (query_builder.rs:47-48 sets default occur = Must)
* ``OR`` binds looser than the implicit/explicit AND
* ``NOT x`` / ``-x`` → must_not; ``+x`` → must (the default)
* range queries ``[a TO b]`` are **rejected** (query_builder.rs:36-39,53-66)
* default-field resolution: unscoped clauses search the request's
  search_fields or the config's default_search_fields
  (query_builder.rs:41-45,68-77)

Query terms are analyzed with the target field's tokenizer at parse-bind
time: a ``default``-tokenized field lowercases the term, and a multi-token
query term (e.g. ``spark-sql``) becomes a phrase if positions are recorded,
else a conjunction of its tokens.  ``raw`` fields match the exact value.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ..config import IndexConfig
from ..functions.tokenizer import tokenize_text


class QueryParserError(ValueError):
    pass


@dataclass(frozen=True)
class TermQuery:
    field: str
    term: str
    # score multiplier (tantivy UserInputAst::Boost / BoostQuery): ``term^2``
    # doubles this clause's BM25 contribution; matching is unchanged
    boost: float = 1.0


@dataclass(frozen=True)
class PhraseQuery:
    """Exact phrase (``slop=0``) or ordered sloppy phrase ``"a b"~2``
    (beyond-reference; the ES match_phrase ``slop`` shape with DOCUMENTED
    ordered semantics): the terms must appear in query order at strictly
    increasing positions p1 < … < pn with total slack
    (pn - p1) - (n - 1) <= slop — i.e. up to ``slop`` extra tokens
    interleaved, no reordering.  (Lucene's sloppy scorer also permits
    transposed terms at higher slop; the ordered definition is what a SQL
    oracle can certify exactly, and matches Lucene for every in-order
    match.)  Scoring is unchanged: a matched doc sums its constituent
    terms' BM25 like any phrase."""

    field: str
    terms: tuple[str, ...]
    boost: float = 1.0
    slop: int = 0


@dataclass(frozen=True)
class PrefixQuery:
    """``field:pre*`` — matches every document holding a dictionary term
    that starts with ``prefix`` (beyond-reference: the tantivy 0.15 grammar
    has no wildcards; semantics follow Lucene's ``scoring_boolean``
    multi-term rewrite).  The planner expands it against the index's global
    term dictionary into a scored disjunction of TermQuery leaves, capped
    at QW_PREFIX_MAX_EXPANSIONS distinct terms (over the cap is a loud
    error — predictable results beat silent truncation).  Only a TRAILING
    unescaped ``*`` is a prefix marker; ``\\*`` stays literal text and a
    mid-term ``*`` is analyzer-stripped like any punctuation."""

    field: str
    prefix: str
    boost: float = 1.0


# fuzzy terms expand over dictionary terms sharing this many leading
# characters (the engine's expansion and the oracle's agree through it)
FUZZY_PREFIX_LEN = 1


@dataclass(frozen=True)
class FuzzyQuery:
    """``term~`` / ``term~2`` — matches every document holding a dictionary
    term within CLASSIC Levenshtein distance ``distance`` (0-2) of ``term``
    (beyond-reference: the tantivy 0.15 grammar has no fuzzy; Lucene
    FuzzyQuery shape, but WITHOUT transpositions — classic edit distance is
    what every SQL engine's levenshtein() computes, so the oracle twin is
    exact).  Expanded at plan time like PrefixQuery (scoring_boolean, same
    cap); the dictionary scan is range-pruned to terms sharing the first
    FUZZY_PREFIX_LEN (1) characters — at a 10^8-term dictionary an
    unanchored fuzzy scan is a full-vocabulary pass, so anchoring is the
    scale-safe behavior."""

    field: str
    term: str
    distance: int
    boost: float = 1.0


@dataclass(frozen=True)
class WildcardQuery:
    """``field:d?plo*ed`` — ``*`` / ``?`` anywhere in a term form a Lucene
    WildcardQuery (beyond-reference; ES query_string wildcard semantics):
    ``*`` matches any run of characters, ``?`` exactly one.  Expanded at
    plan time against the global term dictionary exactly like PrefixQuery
    (scoring_boolean rewrite, same cap); the dictionary scan is range-pruned
    to the pattern's literal prefix — a LEADING wildcard is a full-vocabulary
    scan (allowed, but the cap makes an unselective pattern fail loudly).

    ``pattern`` is canonical: bare ``*``/``?`` are wildcards; a backslash
    escapes the next char to a literal (``\\*`` = a literal star, as typed
    in the query).  A single TRAILING ``*`` with no other wildcard char
    stays the cheaper PrefixQuery."""

    field: str
    pattern: str
    boost: float = 1.0


@dataclass(frozen=True)
class RegexQuery:
    """``field:/mer(ge|ging)/`` — regex term query (beyond-reference; the
    ES query_string ``/re/`` form).  The pattern must FULL-match a
    dictionary term (Lucene RegexpQuery anchors both ends); syntax is
    Python ``re`` — document oracle twins restrict themselves to the
    RE2-compatible subset so DuckDB certifies the same expansion.  Expanded
    at plan time like PrefixQuery; the dictionary scan is range-pruned to
    the regex's extractable literal prefix (empty for ``.*err``-style
    patterns — a full-vocabulary scan bounded by the expansion cap).
    Matching is against the dictionary AS INDEXED (lowercased for
    tokenized fields — write lowercase patterns)."""

    field: str
    pattern: str
    boost: float = 1.0


@dataclass(frozen=True)
class PhrasePrefixQuery:
    """``"deploy fai*"`` — a phrase whose LAST position matches any
    dictionary term starting with ``prefix`` (ES match_phrase_prefix; the
    autocomplete-as-you-type query).  The planner expands it into a
    disjunction of ordinary PhraseQuery nodes — one per matching dictionary
    term, same cap and scoring discipline as PrefixQuery (each expanded
    phrase scores its constituent terms' BM25 like any phrase).  Only a
    TRAILING unescaped ``*`` inside the quotes is a marker; mid-token stars
    are analyzer-stripped."""

    field: str
    terms: tuple[str, ...]  # the fixed leading terms (>= 1)
    prefix: str
    boost: float = 1.0


@dataclass(frozen=True)
class ExistsQuery:
    """``field:*`` on a SCOPED field — the ES ``exists`` query (beyond-
    reference): matches every document whose field holds at least one
    indexed value (token for tokenized text, non-empty value for raw,
    non-null for typed fields — exactly what the fieldnorm store counts,
    so the leaf answers from the per-field doc-length blob with ZERO
    postings work).  Scores a constant 1.0 × boost per match (the ES
    query-context exists behavior; composes additively with BM25 terms).
    Bare unscoped ``*`` stays the match-all query."""

    field: str
    boost: float = 1.0


@dataclass(frozen=True)
class AllQuery:
    """``*`` — match every document (tantivy UserInputLeaf::All →
    AllQuery, constant score 1.0).  Only valid as the WHOLE query here;
    the common uses (browse-latest with a sort field, total counts) never
    nest it."""


@dataclass
class BoolQuery:
    must: list = field(default_factory=list)
    should: list = field(default_factory=list)
    must_not: list = field(default_factory=list)


@dataclass(frozen=True)
class _RawClause:
    """Pre-binding clause: fieldless text until schema resolution."""
    field: str | None
    text: str
    phrase: bool = False
    boost: float = 1.0
    prefix: bool = False
    fuzzy: int | None = None
    # canonical wildcard pattern ('*'/'?' syntax, backslash-escaped
    # literals) when the term carries a mid-pattern wildcard char
    wildcard: str | None = None
    # regex body of a '/re/' clause (backslashes reconstructed)
    regex: str | None = None
    # ordered phrase slop ('"a b"~2'); only meaningful with phrase=True
    slop: int = 0


# -- lexer -------------------------------------------------------------------
#
# Backslash escaping (reference query-language.md "Escaping Special
# Characters"): ``\X`` makes X a literal term character — an escaped colon
# doesn't split field:term, an escaped space doesn't end the token, an
# escaped paren/quote/bracket has no syntax meaning.  The lexer re-encodes
# each escape as a sentinel byte + the literal char so later stages can tell
# syntax chars from escaped ones; ``_unescape`` strips the sentinels at
# clause-binding time.

_SPECIAL = set('()"')
_ESC = "\x00"  # cannot appear in a query string's text


def _unescape(t: str) -> str:
    return t.replace(_ESC, "")


def _find_unescaped(t: str, ch: str) -> int:
    i = 0
    while i < len(t):
        if t[i] == _ESC:
            i += 2
            continue
        if t[i] == ch:
            return i
        i += 1
    return -1


def _lex(q: str) -> list[str]:
    if _ESC in q:
        raise QueryParserError("query contains a NUL byte")
    tokens: list[str] = []
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        if c.isspace():
            i += 1
        elif c == "\\":
            # token starting with an escape: fall through to word scanning
            i = _lex_word(q, i, tokens)
        elif c in "()":
            tokens.append(c)
            i += 1
        elif c == '"':
            j = i + 1
            body = []
            while j < n and q[j] != '"':
                if q[j] == "\\" and j + 1 < n:
                    body.append(_ESC + q[j + 1])
                    j += 2
                else:
                    body.append(q[j])
                    j += 1
            if j >= n:
                raise QueryParserError(f"unterminated phrase in query: {q!r}")
            tok = '"' + "".join(body) + '"'
            i = j + 1
            # '"a b"^2' — a boost suffix right after the closing quote
            # belongs to the phrase (tantivy grammar: boost binds to the
            # preceding leaf); it rides on the token past the quote so
            # parse_clause can split it off.  '~' rides along too so the
            # parser can REJECT slop syntax instead of silently treating
            # '~2' as an extra term (tantivy 0.15's grammar has no slop —
            # the reference 400s such queries)
            if i < n and q[i] in "^~":
                k = i
                while k < n and not q[k].isspace() and q[k] not in _SPECIAL:
                    k += 1
                tok += q[i:k]
                i = k
            tokens.append(tok)
        elif c == "[" or c == "{":
            raise QueryParserError(
                f"range queries are not supported (reference query_builder.rs:36-39): {q!r}"
            )
        elif c in "+-" and (i + 1 < n and not q[i + 1].isspace()):
            tokens.append(c)
            i += 1
        else:
            i = _lex_word(q, i, tokens)
    return tokens


def _lex_word(q: str, i: int, tokens: list[str]) -> int:
    n = len(q)
    j = i
    out = []
    # '/re/' regex tokens (ES query_string form) may contain '[', '{', ':'
    # — all syntax errors or separators elsewhere.  Regex mode starts at a
    # leading '/' (bare, or right after 'field:') and ends at the next
    # unescaped '/'; the token still terminates at whitespace/parens/quotes
    # (escape spaces inside a pattern as '\ ').
    in_regex = False
    while j < n:
        c = q[j]
        if c == "\\":
            if j + 1 < n:
                out.append(_ESC + q[j + 1])
                j += 2
            else:
                out.append(_ESC + "\\")  # trailing lone backslash: literal
                j += 1
            continue
        if c.isspace() or (c in _SPECIAL and not in_regex):
            # in regex mode '('/')'/'"' are pattern chars, not query syntax;
            # whitespace still terminates (escape it as '\ ' in a pattern)
            break
        if c == "/":
            # out holds 1-char elements (plain) or 2-char ESC pairs, so a
            # bare ':' is distinguishable from an escaped one
            if not out or out[-1] == ":":
                in_regex = True  # '/re/' or 'field:/re/'
            elif in_regex:
                in_regex = False  # closing delimiter
            out.append(c)
            j += 1
            continue
        if (c == "[" or c == "{") and not in_regex:
            raise QueryParserError(
                f"range queries are not supported (reference query_builder.rs:36-39): {q!r}"
            )
        # field:"phrase" — stop before the quote so it lexes separately
        if c == ":" and not in_regex and j + 1 < n and q[j + 1] == '"':
            out.append(c)
            j += 1
            break
        out.append(c)
        j += 1
    tokens.append("".join(out))
    return j


# -- parser ------------------------------------------------------------------


class _Parser:
    def __init__(self, tokens: list[str]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        if self.i >= len(self.toks):
            # e.g. 'error NOT' / 'foo -' / '+' — a trailing operator with no
            # operand must be a parse error (HTTP 400), not an IndexError
            raise QueryParserError("unexpected end of query (dangling operator?)")
        t = self.toks[self.i]
        self.i += 1
        return t

    def parse_query(self):
        """query := and_group (OR and_group)*  — OR binds loosest."""
        groups = [self.parse_and_group()]
        while self.peek() == "OR":
            self.next()
            groups.append(self.parse_and_group())
        if len(groups) == 1:
            return groups[0]
        return BoolQuery(should=groups)

    def parse_and_group(self):
        """and_group := (AND? signed_clause)+  — implicit AND = Must."""
        node = BoolQuery()
        first = True
        while True:
            t = self.peek()
            if t is None or t == ")" or t == "OR":
                break
            if t == "AND":
                if first:
                    raise QueryParserError("query starts with AND")
                self.next()
                nxt = self.peek()
                if nxt is None or nxt == ")" or nxt == "OR":
                    raise QueryParserError("dangling AND with no right operand")
                continue
            sign, clause = self.parse_signed_clause()
            if sign == "-":
                node.must_not.append(clause)
            else:
                node.must.append(clause)
            first = False
        if not node.must and not node.must_not and not node.should:
            raise QueryParserError("empty query group")
        if not node.must and node.must_not:
            raise QueryParserError("pure-negation query is not supported")
        if len(node.must) == 1 and not node.must_not and not node.should:
            return node.must[0]
        return node

    def parse_signed_clause(self):
        t = self.peek()
        if t == "NOT":
            # negation COMPOSES with whatever sign the inner clause carries
            # ('NOT NOT x' requires x; swallowing the inner sign silently
            # inverted stacked negations)
            self.next()
            sign, clause = self.parse_signed_clause()
            return ("-" if sign == "+" else "+"), clause
        if t == "-":
            self.next()
            sign, clause = self.parse_signed_clause()
            return ("-" if sign == "+" else "+"), clause
        if t == "+":
            # '+' is a no-op marker: it keeps the inner sign ('+-x' == '-x')
            self.next()
            return self.parse_signed_clause()
        return "+", self.parse_clause(None)

    def parse_clause(self, bound_field: str | None):
        t = self.next()
        if t == "(":
            inner = self.parse_query()
            if self.peek() != ")":
                raise QueryParserError("unbalanced parens")
            self.next()
            # '(a b)^2' — a group boost distributes multiplicatively onto
            # the leaves (BooleanQuery's score is the sum of child scores,
            # so BoostQuery(group) ≡ boosting every child)
            nxt = self.peek()
            if nxt is not None and nxt.startswith("^") and _ESC not in nxt:
                b = _parse_boost(nxt[1:])
                if b is not None:
                    self.next()
                    inner = _apply_boost(inner, b)
            return inner if bound_field is None else _bind_field(inner, bound_field)
        if t.startswith('"'):
            qi = t.rfind('"')
            boost = 1.0
            slop = 0
            # '"body"~2' / '"body"^3' / '"body"~2^3' suffixes from the lexer
            # (Lucene order: slop first, boost last)
            suffix = t[qi + 1 :]
            if suffix.startswith("~"):
                j = 1
                while j < len(suffix) and suffix[j].isdigit():
                    j += 1
                if j == 1:
                    raise QueryParserError(
                        f"phrase slop must be a number ('\"a b\"~2'): {t!r}"
                    )
                slop = int(suffix[1:j])
                suffix = suffix[j:]
            if suffix:
                b = _parse_boost(suffix[1:]) if suffix[0] == "^" else None
                if b is None:
                    raise QueryParserError(f"invalid suffix on phrase: {t!r}")
                boost = b
            body, is_prefix = _split_prefix(t[1:qi])
            if slop and is_prefix:
                raise QueryParserError(
                    "phrase-prefix ('\"a b*\"') cannot carry slop "
                    "(expansion verifies exact adjacency)"
                )
            return _RawClause(
                bound_field,
                _unescape(body),
                phrase=True,
                boost=boost,
                prefix=is_prefix,
                slop=slop,
            )
        if t == "*" and bound_field is None:
            # bare unescaped '*' → match-all (UserInputLeaf::All); '\*' lexes
            # with the escape sentinel and stays a literal term
            return AllQuery()
        # a token opening with an unescaped '/' is a regex clause: never
        # split it at a ':' (regexes may contain colons)
        colon = (
            _find_unescaped(t, ":")
            if bound_field is None and not t.startswith("/")
            else -1
        )
        if colon == len(t) - 1 and colon >= 0:
            fieldname = _unescape(t[:-1])
            if not fieldname:
                raise QueryParserError("empty field name")
            return self.parse_clause(fieldname)
        if colon >= 0:
            fieldname, text = _unescape(t[:colon]), t[colon + 1 :]
            rx = _split_regex(text)
            if rx is not None:
                return _RawClause(fieldname, "", boost=rx[1], regex=rx[0])
            if _find_unescaped(text, "[") >= 0 or _find_unescaped(text, "{") >= 0:
                raise QueryParserError("range queries are not supported")
            _reject_comparison(text)
            text, boost = _split_boost(text)
            text, fz = _split_fuzzy(text)
            text, is_prefix = _split_prefix(text)
            wc = _split_wildcard(text, is_prefix)
            if wc is not None:
                if fz is not None:
                    raise QueryParserError("cannot combine wildcards and fuzzy '~'")
                return _RawClause(fieldname, _unescape(text), boost=boost, wildcard=wc)
            if fz is not None and is_prefix:
                raise QueryParserError("cannot combine prefix '*' and fuzzy '~'")
            return _RawClause(
                fieldname, _unescape(text), boost=boost, prefix=is_prefix, fuzzy=fz
            )
        rx = _split_regex(t)
        if rx is not None:
            return _RawClause(bound_field, "", boost=rx[1], regex=rx[0])
        _reject_comparison(t)
        text, boost = _split_boost(t)
        text, fz = _split_fuzzy(text)
        text, is_prefix = _split_prefix(text)
        wc = _split_wildcard(text, is_prefix)
        if wc is not None:
            if fz is not None:
                raise QueryParserError("cannot combine wildcards and fuzzy '~'")
            return _RawClause(bound_field, _unescape(text), boost=boost, wildcard=wc)
        if fz is not None and is_prefix:
            raise QueryParserError("cannot combine prefix '*' and fuzzy '~'")
        return _RawClause(
            bound_field, _unescape(text), boost=boost, prefix=is_prefix, fuzzy=fz
        )


def _parse_boost(s: str) -> float | None:
    """Numeric boost value or None if ``s`` isn't one (then the '^' is
    treated as literal term text, which the analyzer strips — lenient
    where tantivy's grammar would hard-error).  A VALID number that is
    zero, negative, or NaN is an explicit error: boost 0 zeroes every
    score, collapsing ranking to pure tie-break order — the pruned
    top-k paths select candidates by unboosted score first, so results
    would silently diverge from full evaluation."""
    try:
        b = float(_unescape(s))
    except ValueError:
        return None
    if not (b > 0.0):  # rejects 0, negatives, and NaN in one comparison
        raise QueryParserError(f"boost must be a positive number: ^{s}")
    return b


def _split_boost(text: str) -> tuple[str, float]:
    """Split a trailing unescaped ``^<float>`` boost off a term token
    (tantivy grammar: ``deploy^2`` boosts the leaf)."""
    idx, j = -1, 0
    while j < len(text):
        if text[j] == _ESC:
            j += 2
            continue
        if text[j] == "^":
            idx = j
        j += 1
    if idx <= 0:  # no '^', or nothing before it — not a boost form
        return text, 1.0
    b = _parse_boost(text[idx + 1 :])
    if b is None:
        return text, 1.0
    return text[:idx], b


def _split_fuzzy(text: str) -> tuple[str, int | None]:
    """Split a trailing unescaped ``~`` / ``~N`` fuzziness marker off a
    term token (Lucene ``term~1`` shape).  An all-digit suffix signals
    fuzzy intent: > 2 is a loud error (Lucene's max), never a silent
    literal.  A non-digit suffix (``a~b``) stays literal text for the
    analyzer to split — '~' there is punctuation, not syntax."""
    idx, j = -1, 0
    while j < len(text):
        if text[j] == _ESC:
            j += 2
            continue
        if text[j] == "~":
            idx = j
        j += 1
    if idx <= 0:
        return text, None
    suffix = text[idx + 1 :]
    if suffix == "":
        return text[:idx], 1
    if suffix.isdigit():
        d = int(suffix)
        if d > 2:
            raise QueryParserError(
                f"fuzzy distance must be 0-2 (Lucene max): {text!r}"
            )
        return text[:idx], d
    return text, None


def _split_prefix(text: str) -> tuple[str, bool]:
    """Split a trailing UNESCAPED ``*`` off a term token: ``depl*`` is a
    prefix query, ``depl\\*`` stays a literal (the analyzer strips the
    star like any punctuation).  Runs before _unescape so escaped stars
    are still distinguishable (they carry the sentinel byte)."""
    if text.endswith("*") and not text.endswith(_ESC + "*"):
        return text[:-1], True
    return text, False


def _split_regex(text: str) -> tuple[str, float] | None:
    """``/re/`` / ``/re/^2`` → (pattern, boost), or None when the token is
    not regex-shaped (doesn't start with an unescaped ``/``).  Operates on
    sentinel-encoded text; every escaped char inside the body gets its
    backslash back (``\\d`` reaches Python ``re`` as ``\\d``), so regex
    escapes survive the query-language escaping layer unchanged."""
    if not text.startswith("/"):
        return None
    j = 1
    while j < len(text):
        if text[j] == _ESC:
            j += 2
            continue
        if text[j] == "/":
            break
        j += 1
    if j >= len(text):
        raise QueryParserError(f"unterminated regex (missing closing '/'): {text!r}")
    body = text[1:j].replace(_ESC, "\\")
    if not body:
        raise QueryParserError("empty regex pattern: //")
    rest = text[j + 1 :]
    boost = 1.0
    if rest:
        b = _parse_boost(rest[1:]) if rest[0] == "^" else None
        if b is None:
            raise QueryParserError(
                f"unexpected characters after regex close: {rest!r} "
                "(escape literal '/' in terms as '\\/')"
            )
        boost = b
    return body, boost


def _split_wildcard(text: str, is_prefix: bool) -> str | None:
    """Canonical wildcard pattern when ``text`` (sentinel-encoded, trailing
    prefix star already stripped) holds an unescaped ``*`` or ``?``; else
    None (plain term / plain prefix).  In the canonical form ``*``/``?``
    are wildcards and ``\\X`` is a literal X."""
    has = False
    j = 0
    while j < len(text):
        if text[j] == _ESC:
            j += 2
            continue
        if text[j] in "*?":
            has = True
            break
        j += 1
    if not has:
        return None
    out = []
    j = 0
    while j < len(text):
        c = text[j]
        if c == _ESC:
            lit = text[j + 1] if j + 1 < len(text) else "\\"
            out.append("\\" + lit if lit in "*?\\" else lit)
            j += 2
            continue
        out.append("\\\\" if c == "\\" else c)
        j += 1
    if is_prefix:
        out.append("*")
    return "".join(out)


def _wildcard_has_literal(pat: str) -> bool:
    """True when the canonical wildcard pattern fixes at least one literal
    character (an all-wildcard pattern matches the whole vocabulary —
    that's the match-all query's job, rejected loudly here)."""
    j = 0
    while j < len(pat):
        if pat[j] == "\\":
            return True  # escaped char is a literal
        if pat[j] not in "*?":
            return True
        j += 1
    return False


def wildcard_literal_prefix(pat: str) -> str:
    """Literal characters before the first wildcard of a canonical pattern
    — the dictionary range-scan anchor ('' = full-vocabulary scan, e.g. a
    leading-wildcard pattern).  Escapes resolve to their literal chars."""
    out = []
    j = 0
    while j < len(pat):
        c = pat[j]
        if c == "\\" and j + 1 < len(pat):
            out.append(pat[j + 1])
            j += 2
            continue
        if c in "*?":
            break
        out.append(c)
        j += 1
    return "".join(out)


def wildcard_regex(pat: str):
    """Compile a canonical wildcard pattern to a Python regex for
    fullmatch: '*' → '.*', '?' → '.', everything else literal.  (?s) so
    '*'/'?' cross newlines inside raw-field terms."""
    import re as _re

    out = ["(?s)"]
    j = 0
    while j < len(pat):
        c = pat[j]
        if c == "\\" and j + 1 < len(pat):
            out.append(_re.escape(pat[j + 1]))
            j += 2
            continue
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        else:
            out.append(_re.escape(c))
        j += 1
    return _re.compile("".join(out))


def regex_literal_prefix(pat: str) -> str:
    """Extractable literal prefix of a regex for the dictionary range scan.
    MUST never exclude a true fullmatch, so it is conservative: a '|' at
    nesting depth 0 voids the whole prefix (either branch may start the
    term), a quantifier voids the character it binds to, and extraction
    stops at the first metacharacter.  '' = unanchored (full-vocabulary
    scan, bounded by the expansion cap)."""
    n = len(pat)
    depth = 0
    j = 0
    while j < n:  # depth-0 alternation check over the whole pattern
        c = pat[j]
        if c == "\\":
            j += 2
            continue
        if c == "[":  # char class: ']' is literal first, escapes skip
            j += 1
            if j < n and pat[j] == "^":
                j += 1
            if j < n and pat[j] == "]":
                j += 1
            while j < n and pat[j] != "]":
                if pat[j] == "\\":
                    j += 1
                j += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "|" and depth == 0:
            return ""
        j += 1
    out = []
    j = 1 if pat.startswith("^") else 0  # fullmatch: leading '^' is a no-op
    while j < n:
        c = pat[j]
        if not (c.isalnum() or c in "_- "):
            break
        if j + 1 < n and pat[j + 1] in "*?+{":
            break  # quantifier makes this char optional/repeated
        out.append(c)
        j += 1
    return "".join(out)


def _apply_boost(node, b: float):
    """Multiply every positive leaf's boost by ``b`` (group boosts)."""
    if isinstance(node, _RawClause):
        from dataclasses import replace

        return replace(node, boost=node.boost * b)
    if isinstance(node, BoolQuery):
        return BoolQuery(
            must=[_apply_boost(c, b) for c in node.must],
            should=[_apply_boost(c, b) for c in node.should],
            must_not=node.must_not,  # negated clauses never score
        )
    return node


def _reject_comparison(text: str) -> None:
    """``field:>foo`` / ``<=bar`` are range comparisons in the tantivy
    grammar and the reference rejects every range form
    (query_builder.rs:152-156 expects Err for ``title:>foo``); silently
    tokenizing away the operator would turn a range into a term match.
    Escaped operators (``\\>foo``) lex with the escape marker first and
    stay literal."""
    if text[:1] in (">", "<"):
        raise QueryParserError(
            "range queries are not supported (reference query_builder.rs:36-39)"
        )


def _bind_field(node, fieldname: str):
    """Fill in the group's field on clauses that don't carry their own.
    An explicitly scoped inner clause wins (tantivy's set_default_field
    only supplies missing fields, it never overrides one)."""
    if isinstance(node, AllQuery):
        # 'field:(*)' — the parenthesized form of the exists syntax: the
        # inner bare '*' lexed as match-all before the field bind, but a
        # FIELD-scoped star means exists, never match-everything (silently
        # widening to the whole index would be a correctness trap)
        return _RawClause(fieldname, "", prefix=True)
    if isinstance(node, _RawClause):
        if node.field is not None:
            return node
        from dataclasses import replace

        return replace(node, field=fieldname)
    if isinstance(node, BoolQuery):
        return BoolQuery(
            must=[_bind_field(c, fieldname) for c in node.must],
            should=[_bind_field(c, fieldname) for c in node.should],
            must_not=[_bind_field(c, fieldname) for c in node.must_not],
        )
    return node


# -- schema binding ------------------------------------------------------------


def _resolve(node, config: IndexConfig, default_fields: tuple[str, ...]):
    """Bind raw clauses to schema fields, analyzing terms with the field's
    tokenizer; expand unscoped clauses over the default search fields."""
    if isinstance(node, BoolQuery):
        return BoolQuery(
            must=[_resolve(c, config, default_fields) for c in node.must],
            should=[_resolve(c, config, default_fields) for c in node.should],
            must_not=[_resolve(c, config, default_fields) for c in node.must_not],
        )
    if isinstance(node, AllQuery):
        # only meaningful as the whole query: nested, its constant-1.0
        # score would have to merge into BM25 sums (the engine's pruned
        # paths can't), and '* AND x' is just 'x' anyway
        raise QueryParserError(
            "'*' (match all) must be the entire query, not a sub-clause"
        )
    assert isinstance(node, _RawClause)
    if node.field is None:
        if not default_fields:
            raise QueryParserError("no default search field configured")
        # each default field may carry a per-field weight ('text^2' in
        # searchField — the ES multi_match field^boost shape): the clause
        # resolves once per field with its boost scaled by that weight
        from dataclasses import replace

        alts = [
            _resolve(
                replace(node, field=f, boost=node.boost * w),
                config,
                default_fields,
            )
            for f, w in default_fields
        ]
        return alts[0] if len(alts) == 1 else BoolQuery(should=alts)
    fm = config.fields.get(node.field)
    if fm is None:
        raise QueryParserError(f"field does not exist in schema: {node.field}")
    if not fm.is_indexed:
        # stored/fast-only fields have no postings: fail at bind time like
        # tantivy's FieldNotIndexed instead of silently matching nothing
        raise QueryParserError(f"field is not indexed: {node.field}")
    if node.prefix and node.text == "" and node.wildcard is None:
        # 'field:*' — the ES exists query (any indexed value present);
        # valid for EVERY indexed field type, answered from the fieldnorm
        # store (doc_lens_<field> > 0), never the postings
        return ExistsQuery(node.field, boost=node.boost)
    if node.regex is not None:
        if fm.scalar_type != "text":
            raise QueryParserError(
                f"regex queries require a text field (field {node.field} "
                f"is {fm.scalar_type})"
            )
        import re as _re

        try:
            _re.compile(node.regex)
        except _re.error as e:
            raise QueryParserError(f"invalid regex /{node.regex}/: {e}") from e
        return RegexQuery(node.field, node.regex, boost=node.boost)
    if node.wildcard is not None:
        if fm.scalar_type != "text":
            raise QueryParserError(
                f"wildcard queries require a text field (field {node.field} "
                f"is {fm.scalar_type})"
            )
        # matched against the dictionary AS INDEXED: literal chars lowercase
        # for tokenized fields ('*'/'?'/backslash are case-stable so a plain
        # lower() is exact); NOT analyzer-split and NOT stemmed — same
        # reasoning as prefix fragments
        pat = node.wildcard if fm.tokenizer == "raw" else node.wildcard.lower()
        if not _wildcard_has_literal(pat):
            raise QueryParserError(
                f"wildcard pattern needs at least one literal character: "
                f"{node.wildcard!r} (bare '*' is the match-all query)"
            )
        return WildcardQuery(node.field, pat, boost=node.boost)
    if node.fuzzy is not None:
        if fm.scalar_type != "text":
            raise QueryParserError(
                f"fuzzy queries require a text field (field {node.field} "
                f"is {fm.scalar_type})"
            )
        if fm.tokenizer == "raw":
            t = node.text
        else:
            # matched against the dictionary AS INDEXED (lowercased); NOT
            # stemmed, same reasoning as prefix fragments
            toks = tokenize_text(node.text)
            if len(toks) != 1:
                raise QueryParserError(
                    f"fuzzy term must analyze to one token: {node.text!r}~"
                )
            t = toks[0]
        if not t:
            raise QueryParserError(
                f"fuzzy query requires a non-empty term: {node.text!r}~"
            )
        if node.fuzzy == 0:  # Lucene: ~0 is an exact term
            return TermQuery(node.field, t, boost=node.boost)
        return FuzzyQuery(node.field, t, node.fuzzy, boost=node.boost)
    if node.prefix:
        if fm.scalar_type != "text":
            raise QueryParserError(
                f"prefix queries require a text field (field {node.field} "
                f"is {fm.scalar_type}: its dictionary terms are canonical "
                "numeric encodings, not strings)"
            )
        if fm.tokenizer == "raw":
            p = node.text
        else:
            # the prefix is matched against the dictionary AS INDEXED:
            # lowercased for tokenized fields.  It is NOT stemmed — a
            # stem_en dictionary holds stemmed forms and stemming a
            # fragment would silently move the match target ("deplo*"
            # must match "deploy…" entries, not stem("deplo")'s output).
            toks = tokenize_text(node.text)
            if len(toks) > 1:
                if not node.phrase:
                    raise QueryParserError(
                        f"prefix must analyze to one token: {node.text!r}*"
                    )
                # '"deploy fai*"' — match_phrase_prefix: fixed leading
                # terms + last-position prefix (stem_en stems the FIXED
                # terms like any phrase; the prefix fragment stays literal)
                if fm.record != "position":
                    raise QueryParserError(
                        f"phrase query on field {node.field} requires "
                        "record=position (reference "
                        "docs/reference/index-config.md:123-142)"
                    )
                fixed = toks[:-1]
                if fm.tokenizer == "stem_en":
                    from ..functions.stemmer import stem_cached

                    fixed = [stem_cached(t) for t in fixed]
                return PhrasePrefixQuery(
                    node.field, tuple(fixed), toks[-1], boost=node.boost
                )
            p = toks[0] if toks else ""
        if not p:
            raise QueryParserError(
                f"prefix query requires a non-empty prefix: {node.text!r}*"
            )
        return PrefixQuery(node.field, p, boost=node.boost)
    if node.slop and (fm.scalar_type != "text" or fm.tokenizer == "raw"):
        # slop orders TOKEN positions; raw/typed fields index whole values
        raise QueryParserError(
            f"phrase slop requires a tokenized text field (field {node.field})"
        )
    if fm.scalar_type != "text":
        # typed term query (i64/u64/f64/date/bytes): exact value match on
        # the canonical term string (same form the build task indexed)
        from ..functions.typed_terms import canonical_query_term

        try:
            return TermQuery(
                node.field,
                canonical_query_term(fm.scalar_type, node.text),
                boost=node.boost,
            )
        except ValueError as e:
            raise QueryParserError(
                f"invalid {fm.scalar_type} value for field {node.field}: {node.text!r}"
            ) from e
    if fm.tokenizer == "raw":
        return TermQuery(node.field, node.text, boost=node.boost)
    toks = tokenize_text(node.text)
    if fm.tokenizer == "stem_en":
        # query terms are analyzed with the same filter chain as documents
        # (tantivy TextAnalyzer semantics): tokenize, lowercase, stem
        from ..functions.stemmer import stem_cached

        toks = [stem_cached(t) for t in toks]
    if not toks:
        raise QueryParserError(f"query term analyzes to nothing: {node.text!r}")
    if node.phrase or len(toks) > 1:
        if len(toks) == 1:
            return TermQuery(node.field, toks[0], boost=node.boost)
        if fm.record != "position":
            raise QueryParserError(
                f"phrase query on field {node.field} requires record=position "
                "(reference docs/reference/index-config.md:123-142)"
            )
        return PhraseQuery(node.field, tuple(toks), boost=node.boost, slop=node.slop)
    return TermQuery(node.field, toks[0], boost=node.boost)


def _field_weight(f: str) -> tuple[str, float]:
    """'text^2' → ('text', 2.0); bare names weigh 1.0 (ES multi_match
    field^boost shape for searchField entries)."""
    if "^" in f:
        name, _, suf = f.rpartition("^")
        b = _parse_boost(suf)
        if b is None or not name:
            raise QueryParserError(f"invalid search-field boost: {f!r}")
        return name, b
    return f, 1.0


def parse_query(
    q: str, config: IndexConfig, search_fields: tuple[str, ...] | None = None
):
    """Parse + schema-bind a query string → TermQuery | PhraseQuery | BoolQuery."""
    tokens = _lex(q)
    if not tokens:
        raise QueryParserError("empty query")
    ast = _Parser(tokens).parse_query()
    if isinstance(ast, AllQuery):  # bare '*': nothing to schema-bind
        return ast
    names = tuple(search_fields) if search_fields else config.default_search_fields
    default_fields = tuple(_field_weight(f) for f in names)
    return _resolve(ast, config, default_fields)


def collect_terms(node) -> set[tuple[str, str]]:
    """All (field, term) pairs referenced by the query (warmup analog —
    exactly the posting lists the leaf search needs, leaf.rs:173-193).
    ExistsQuery reads no postings (it answers from the fieldnorm store),
    so it contributes none."""
    out: set[tuple[str, str]] = set()
    if isinstance(node, (ExistsQuery, AllQuery)):
        return out
    if isinstance(node, TermQuery):
        out.add((node.field, node.term))
    elif isinstance(node, PhraseQuery):
        out.update((node.field, t) for t in node.terms)
    elif isinstance(
        node, (PrefixQuery, PhrasePrefixQuery, FuzzyQuery, WildcardQuery, RegexQuery)
    ):
        # every planner must rewrite prefixes against the term dictionary
        # before warmup — reaching here means an expansion step was skipped
        raise ValueError(
            "unexpanded PrefixQuery in plan — run expand_prefixes first"
        )
    elif isinstance(node, BoolQuery):
        for c in node.must + node.should + node.must_not:
            out |= collect_terms(c)
    return out


def positive_terms(node) -> set[tuple[str, str]]:
    """(field, term) pairs in non-negated positions — the ones BM25 scores."""
    out: set[tuple[str, str]] = set()
    if isinstance(node, TermQuery):
        out.add((node.field, node.term))
    elif isinstance(node, PhraseQuery):
        out.update((node.field, t) for t in node.terms)
    elif isinstance(node, BoolQuery):
        for c in node.must + node.should:
            out |= positive_terms(c)
    return out


def positive_term_weights(node) -> dict[tuple[str, str], float]:
    """Per-(field, term) score multiplier for BM25: the MAX boost over
    positive clauses mentioning the term.  Max (not sum) keeps the
    engine's convention that a term contributes ONCE no matter how many
    positive clauses repeat it — with every boost at the default 1.0 the
    weights are all 1.0 and scoring is byte-identical to the unboosted
    engine."""
    out: dict[tuple[str, str], float] = {}

    def walk(n):
        if isinstance(n, TermQuery):
            k = (n.field, n.term)
            out[k] = max(out.get(k, 0.0), n.boost)
        elif isinstance(n, PhraseQuery):
            for t in n.terms:
                k = (n.field, t)
                out[k] = max(out.get(k, 0.0), n.boost)
        elif isinstance(n, BoolQuery):
            for c in n.must + n.should:
                walk(c)

    walk(node)
    return out


def positive_exists_weights(node) -> dict[str, float]:
    """Per-field constant-score multiplier of positive ExistsQuery clauses
    (max over repeats, same discipline as positive_term_weights): each
    matching doc adds this once per field."""
    out: dict[str, float] = {}

    def walk(n):
        if isinstance(n, ExistsQuery):
            out[n.field] = max(out.get(n.field, 0.0), n.boost)
        elif isinstance(n, BoolQuery):
            for c in n.must + n.should:
                walk(c)

    walk(node)
    return out


def extract_tag_predicate(node, tag_fields: tuple[str, ...]):
    """Simplified tag-pruning AST (reference tag_pruning.rs:47-51,151-205):
    returns a function(tags: set[str], has_tags: bool) -> bool deciding
    whether a split may contain matches.  Clauses not scoped to a tag field
    are 'uninformative' and collapse to True."""

    def uninformative(_tags, _has):
        return True

    if isinstance(node, TermQuery):
        if node.field in tag_fields:
            marker = f"{node.field}!"
            want = f"{node.field}:{node.term}"
            return lambda tags, _has: (marker not in tags) or (want in tags)
        return uninformative
    if isinstance(node, PhraseQuery):
        return uninformative
    if isinstance(node, BoolQuery):
        must_preds = [extract_tag_predicate(c, tag_fields) for c in node.must]
        should_preds = [extract_tag_predicate(c, tag_fields) for c in node.should]

        def pred(tags, has):
            if must_preds and not all(p(tags, has) for p in must_preds):
                return False
            if should_preds and not any(p(tags, has) for p in should_preds):
                return False
            return True

        return pred
    return uninformative

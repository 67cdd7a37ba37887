"""Pure-Python oracle index — the rank-identity reference for golden tests
(FIXTURES.md F4).  Deliberately written with plain dicts/sets/lists — an
independent implementation from the Spark executor (which works on decoded
bitpacked blobs with numpy) so that agreement between the two is meaningful.
BM25 is exact (k1=1.2, b=0.75, ln-idf; SURVEY.md §2.7) with exact doc
lengths and *global* (whole-index) collection stats.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pandas as pd

from ..config import IndexConfig
from ..functions.bm25 import B, K1
from ..functions.tokenizer import tokenize_text
from .parser import (
    AllQuery,
    BoolQuery,
    ExistsQuery,
    FUZZY_PREFIX_LEN,
    FuzzyQuery,
    PhrasePrefixQuery,
    PhraseQuery,
    PrefixQuery,
    RegexQuery,
    TermQuery,
    WildcardQuery,
    parse_query,
    positive_exists_weights,
    positive_term_weights,
)


def _glob_match(pat: str, s: str) -> bool:
    """Canonical wildcard pattern match ('*' any run, '?' one char, '\\X'
    literal) — an iterative two-pointer matcher with star backtracking,
    INDEPENDENT of the executor's regex translation so engine/oracle
    agreement on wildcard expansion is a real differential."""
    toks: list[tuple[str, str | None]] = []
    i = 0
    while i < len(pat):
        c = pat[i]
        if c == "\\" and i + 1 < len(pat):
            toks.append(("lit", pat[i + 1]))
            i += 2
        elif c == "*":
            toks.append(("star", None))
            i += 1
        elif c == "?":
            toks.append(("one", None))
            i += 1
        else:
            toks.append(("lit", c))
            i += 1
    ti = si = 0
    star_ti = star_si = -1
    while si < len(s):
        if ti < len(toks) and (
            toks[ti] == ("one", None) or toks[ti] == ("lit", s[si])
        ):
            ti += 1
            si += 1
        elif ti < len(toks) and toks[ti][0] == "star":
            star_ti, star_si = ti, si
            ti += 1
        elif star_ti >= 0:
            star_si += 1  # grow the last star's span and retry
            ti, si = star_ti + 1, star_si
        else:
            return False
    while ti < len(toks) and toks[ti][0] == "star":
        ti += 1
    return ti == len(toks)


def _edit_distance(a: str, b: str) -> int:
    """Classic Levenshtein — independent of the executor's banded check so
    engine/oracle agreement on fuzzy expansion is a real differential."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]
from .request import SearchRequest


def _tok(val, tokenizer: str) -> list[str]:
    toks = tokenize_text(val if isinstance(val, str) else "")
    if tokenizer == "stem_en":
        from ..functions.stemmer import stem_cached

        toks = [stem_cached(t) for t in toks]
    return toks


class OracleIndex:
    """Brute-force in-memory index over the docs table of a built index —
    any schema (generic DocMapper columns included: dotted leaf names,
    array<T> values, typed i64/u64/f64/date/bytes term fields)."""

    def __init__(self, docs: pd.DataFrame, config: IndexConfig):
        self.config = config
        self.docs = docs.reset_index(drop=True)
        # postings[(field, term)] = {(split_id, doc_id): [positions]}
        self.postings: dict[tuple[str, str], dict[tuple[str, int], list[int]]] = defaultdict(dict)
        self.doc_lens: dict[str, dict[tuple[str, int], int]] = defaultdict(dict)
        rows = self.docs.to_dict("records")  # dict access: dotted names survive
        for row in rows:
            key = (row["split_id"], int(row["doc_id"]))
            for fm in config.indexed_text_fields:
                val = row.get(fm.name)
                if fm.tokenizer in ("default", "stem_en"):
                    if fm.is_array:
                        # elements tokenize separately; positions advance by
                        # tokens + 2 between elements (tantivy POSITION_GAP);
                        # fieldnorm counts real tokens only
                        p = 0
                        n_toks = 0
                        for el in val if val is not None else []:
                            toks = _tok(el, fm.tokenizer)
                            for t in toks:
                                self.postings[(fm.name, t)].setdefault(key, []).append(p)
                                p += 1
                            n_toks += len(toks)
                            p += 2
                        self.doc_lens[fm.name][key] = n_toks
                    else:
                        toks = _tok(val, fm.tokenizer)
                        self.doc_lens[fm.name][key] = len(toks)
                        for p, t in enumerate(toks):
                            self.postings[(fm.name, t)].setdefault(key, []).append(p)
                else:  # raw: each value is one token (fieldnorm = value count)
                    vals = (
                        [x for x in val if x]
                        if fm.is_array and val is not None
                        else ([val] if isinstance(val, str) and val != "" else [])
                    )
                    self.doc_lens[fm.name][key] = len(vals)
                    for p, v in enumerate(vals):
                        self.postings[(fm.name, v)].setdefault(key, []).append(p)
            for fm in config.indexed_typed_fields:
                from ..functions.typed_terms import canonical_value

                val = row.get(fm.name)
                if fm.is_array:
                    vals = list(val) if val is not None else []
                else:
                    vals = [] if val is None or (pd.isna(val) if not isinstance(val, (list, bytes)) else False) else [val]
                self.doc_lens[fm.name][key] = len(vals)
                for p, v in enumerate(vals):
                    term = canonical_value(fm.scalar_type, v)
                    self.postings[(fm.name, term)].setdefault(key, []).append(p)
        self.num_docs = len(self.docs)
        self.avg_len = {
            f: (sum(lens.values()) / self.num_docs if self.num_docs else 0.0)
            for f, lens in self.doc_lens.items()
        }
        self.by_key = {(r["split_id"], int(r["doc_id"])): r for r in rows}

    # -- boolean evaluation (plain sets) ---------------------------------
    def _eval(self, node) -> set[tuple[str, int]]:
        if isinstance(node, AllQuery):
            return set(self.by_key)
        if isinstance(node, ExistsQuery):
            lens = self.doc_lens.get(node.field, {})
            return {k for k in self.by_key if lens.get(k, 0) > 0}
        if isinstance(node, TermQuery):
            return set(self.postings.get((node.field, node.term), {}))
        if isinstance(node, PhraseQuery):
            lists = [self.postings.get((node.field, t), {}) for t in node.terms]
            if any(not d for d in lists):
                return set()
            candidates = set(lists[0])
            for d in lists[1:]:
                candidates &= set(d)
            out = set()
            n = len(lists)
            for key in candidates:
                if node.slop:
                    # ordered sloppy phrase: from each start, greedily take
                    # the smallest strictly-later position of each term;
                    # greedy minimizes the end, so minimal span is exact
                    for p in lists[0][key]:
                        cur, ok = p, True
                        for i in range(1, n):
                            nxt = min(
                                (q for q in lists[i][key] if q > cur), default=None
                            )
                            if nxt is None:
                                ok = False
                                break
                            cur = nxt
                        if ok and cur - p <= node.slop + n - 1:
                            out.add(key)
                            break
                    continue
                for p in lists[0][key]:
                    if all((p + i) in lists[i][key] for i in range(1, n)):
                        out.add(key)
                        break
            return out
        assert isinstance(node, BoolQuery)
        if node.must:
            acc = self._eval(node.must[0])
            for c in node.must[1:]:
                acc &= self._eval(c)
        elif node.should:
            acc = set()
        else:
            acc = set()
        if node.should:
            sh = set()
            for c in node.should:
                sh |= self._eval(c)
            acc = (acc & sh) if node.must else sh
        for c in node.must_not:
            acc -= self._eval(c)
        return acc

    def _idf(self, field: str, term: str) -> float:
        df = len(self.postings.get((field, term), {}))
        return math.log(1.0 + (self.num_docs - df + 0.5) / (df + 0.5))

    def _score(self, key, weights: dict[tuple[str, str], float]) -> float:
        s = 0.0
        for (field, term), w in weights.items():
            plist = self.postings.get((field, term), {})
            if key not in plist:
                continue
            tf = float(len(plist[key]))
            dlen = float(self.doc_lens[field][key])
            avg = self.avg_len[field]
            s += w * self._idf(field, term) * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dlen / avg))
        return s

    def _expand_prefixes(self, node):
        """Independent twin of executor.expand_prefixes: rewrite prefix
        clauses against THIS oracle's vocabulary (identical to the engine's
        global term dictionary — both cover exactly the indexed docs),
        scoring_boolean semantics, same expansion cap."""
        import os

        if isinstance(
            node,
            (PrefixQuery, PhrasePrefixQuery, FuzzyQuery, WildcardQuery, RegexQuery),
        ):
            cap = int(os.environ.get("QW_PREFIX_MAX_EXPANSIONS", "1024"))
            if isinstance(node, FuzzyQuery):
                anchor = node.term[:FUZZY_PREFIX_LEN]
                terms = sorted(
                    t
                    for (f, t) in self.postings
                    if f == node.field
                    and t.startswith(anchor)
                    and _edit_distance(t, node.term) <= node.distance
                )
            elif isinstance(node, WildcardQuery):
                # UNANCHORED scan of the whole vocabulary, independent glob
                # matcher: if the engine's literal-prefix range anchor ever
                # wrongly excluded a matching term, the differential catches it
                terms = sorted(
                    t
                    for (f, t) in self.postings
                    if f == node.field and _glob_match(node.pattern, t)
                )
            elif isinstance(node, RegexQuery):
                import re as _re

                rx = _re.compile(node.pattern)
                terms = sorted(
                    t
                    for (f, t) in self.postings
                    if f == node.field and rx.fullmatch(t) is not None
                )
            else:
                terms = sorted(
                    t
                    for (f, t) in self.postings
                    if f == node.field and t.startswith(node.prefix)
                )
            if len(terms) > cap:
                if isinstance(node, FuzzyQuery):
                    frag = f"{node.term}~{node.distance}"
                elif isinstance(node, WildcardQuery):
                    frag = node.pattern
                elif isinstance(node, RegexQuery):
                    frag = f"/{node.pattern}/"
                else:
                    frag = f"{node.prefix}*"
                raise ValueError(
                    f"prefix '{node.field}:{frag}' expands to "
                    f"{len(terms)} dictionary terms (max {cap})"
                )
            if not terms:
                return BoolQuery()
            if isinstance(node, PhrasePrefixQuery):
                alts = [
                    PhraseQuery(node.field, (*node.terms, t), boost=node.boost)
                    for t in terms
                ]
                return alts[0] if len(alts) == 1 else BoolQuery(should=alts)
            if len(terms) == 1:
                return TermQuery(node.field, terms[0], boost=node.boost)
            return BoolQuery(
                should=[TermQuery(node.field, t, boost=node.boost) for t in terms]
            )
        if isinstance(node, BoolQuery):
            return BoolQuery(
                must=[self._expand_prefixes(c) for c in node.must],
                should=[self._expand_prefixes(c) for c in node.should],
                must_not=[self._expand_prefixes(c) for c in node.must_not],
            )
        return node

    def search(self, request: SearchRequest) -> dict:
        ast = parse_query(request.query, self.config, request.search_fields)
        msm = request.min_should_match
        if msm > 1 and not (isinstance(ast, BoolQuery) and ast.should):
            raise ValueError("minShouldMatch > 1 requires a top-level OR query")
        ast = self._expand_prefixes(ast)
        if msm > 1:
            # independent minimum_should_match twin: per-clause sets + a
            # plain Counter over clause membership (the engine counts via
            # np.unique over concatenated doc arrays)
            from collections import Counter

            per_clause = [self._eval(c) for c in ast.should]
            cnt: Counter = Counter()
            for s in per_clause:
                cnt.update(s)
            matched = {k for k, c in cnt.items() if c >= msm}
            if ast.must:
                matched &= self._eval(BoolQuery(must=ast.must))
            for c in ast.must_not:
                matched -= self._eval(c)
        else:
            matched = self._eval(ast)
        if request.start_timestamp is not None or request.end_timestamp is not None:
            lo = request.start_timestamp
            hi = request.end_timestamp
            matched = {
                k
                for k in matched
                if (lo is None or self.by_key[k]["ts_epoch"] >= lo)
                and (hi is None or self.by_key[k]["ts_epoch"] < hi)
            }
        for f_, f_lo, f_hi in request.numeric_filters or ():
            # raw stored values (the oracle's docs carry the fast fields);
            # half-open [lo, hi) like the engine's key-space mask
            matched = {
                k
                for k in matched
                if (f_lo is None or self.by_key[k][f_] >= f_lo)
                and (f_hi is None or self.by_key[k][f_] < f_hi)
            }
        num_hits = len(matched)
        if request.sort_by_field is not None:
            # datetime fast fields are stored as epoch seconds (the engine's
            # ts fast field) — sort on the epoch attr, not the raw Timestamp
            attr = request.sort_by_field
            if attr == self.config.timestamp_field or attr == "ts":
                attr = "ts_epoch"
            keyed = [(self.by_key[k][attr], k) for k in matched]
            sign = 1 if request.sort_asc else -1
            ordered = sorted(keyed, key=lambda kv: (sign * kv[0], kv[1][0], kv[1][1]))
            hits = [
                {"split_id": k[0], "doc_id": k[1], "score": float(v)} for v, k in ordered
            ]
        else:
            if isinstance(ast, AllQuery):
                # tantivy AllQuery: constant score 1.0 for every doc — the
                # tie-break below fully determines the order
                scored = [(1.0, k) for k in matched]
            else:
                weights = positive_term_weights(ast)
                exists_w = positive_exists_weights(ast)

                def _full_score(k):
                    s = self._score(k, weights)
                    for f_, w in exists_w.items():
                        if self.doc_lens.get(f_, {}).get(k, 0) > 0:
                            s += w
                    return s

                scored = [(_full_score(k), k) for k in matched]
            if request.tiebreak == "global_key":
                ordered = sorted(
                    scored,
                    key=lambda sk: (
                        -sk[0],
                        self.by_key[sk[1]]["conv_id"],
                        int(self.by_key[sk[1]]["turn_idx"]),
                    ),
                )
            else:
                ordered = sorted(scored, key=lambda sk: (-sk[0], sk[1][0], sk[1][1]))
            hits = [{"split_id": k[0], "doc_id": k[1], "score": s} for s, k in ordered]
        if request.search_after is not None:
            # cursor paging: drop everything at-or-before the cursor in
            # result order (the engine filters per split; the oracle just
            # slices its fully-ordered list — same semantics)
            c_v, c_split, c_doc = request.search_after
            # BM25 order is just the sign=-1 (descending) case of the
            # sort-field comparison; both key on the 'score' slot
            sign = (
                (1 if request.sort_asc else -1)
                if request.sort_by_field is not None
                else -1
            )

            def before_or_at(h):
                k = (sign * h["score"], h["split_id"], h["doc_id"])
                return k <= (sign * c_v, c_split, c_doc)

            hits = [h for h in hits if not before_or_at(h)]
        lo, hi = request.start_offset, request.start_offset + request.max_hits
        hits = hits[lo:hi]
        for h in hits:
            row = self.by_key[(h["split_id"], h["doc_id"])]
            h["conv_id"] = row["conv_id"]
            h["turn_idx"] = int(row["turn_idx"])
        return {"num_hits": num_hits, "hits": hits}

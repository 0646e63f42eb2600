"""Boolean query language over the inverted index (Q11).

Lucene-flavored surface on top of the Q1–Q10 primitives:

    window AND (agg OR scan) NOT merge
    "window agg" OR scan            # quoted phrase needs positions
    parse config                    # bare adjacency = implicit AND
    agg AND par* NOT warn~1         # r5: wildcard / fuzzy leaves
    "window agg"~2 AND scan         # r5: proximity phrase (any order)

Grammar (recursive descent):
    expr    := and_expr (OR and_expr)*
    and_expr:= unary+                # adjacency is implicit AND
    unary   := NOT unary | primary
    primary := '(' expr ')' | '"' ... '"' '~'N? | word | word'*'
               | word'~'N?

Wildcard (``par*``) and fuzzy (``term~``, ``term~2``) leaves expand at
PLAN time to the OR of their dictionary expansions (sidecar-aware,
same ``max_expansions`` cap and (df desc, term asc) order as the
standalone Q18/Q20 surfaces) — the kernel only ever sees plain
term/phrase/and/or trees. Expanded terms in positive positions score
like any positive term; in negated positions the whole expansion is
excluded.

UPPERCASE ``AND`` / ``OR`` / ``NOT`` are operators; lowercase and/or/not
are ordinary corpus terms (the tokenizer lowercases content, so the
case split keeps every corpus term reachable). Words run through the
index's own tokenizer — with the ``code`` chain a camelCase word
expands to its sub-tokens as an implicit AND, matching plain AND-mode
search. Negation must be bounded by a positive sibling (``NOT x``
alone or ``a OR NOT b`` is rejected — the complement of a posting set
cannot be enumerated without a full corpus scan).

Semantics: the boolean tree selects the candidate set; ranking is
exact BM25 summed over the query's POSITIVE terms that each candidate
contains (sorted term order — same determinism contract as Q3).

Execution: one bucket-pruned postings scan over ALL tree terms →
per-split kernel evaluates the tree with sorted-array set ops
(intersect/union/setdiff) over decoded doc ids, applies positional
phrase filters, exact-scores ≤k survivors → global top-k. The
kernels (:func:`tree_kernel`, :func:`trees_kernel`,
:func:`count_kernel`) are plain-array per-split kernels for the one
executor, :meth:`~datastream_io_spark.operators.indexed_search.
Searcher._run`: under the single-task gate the scan and kernels run on
the driver (zero Spark jobs); past it they run per split in Spark.
The AST is plain nested tuples, so the kernel closure pickles cleanly.
Planning lives in
:meth:`~datastream_io_spark.operators.indexed_search.Searcher.search_boolean`
/ ``.count_boolean``; this module's functions are one-shot Searchers.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from datastream_io_spark.functions.tokenize import tokenizer_for
from datastream_io_spark.operators.codec import decode_block_docs
from datastream_io_spark.operators.indexed_search import (
    NearSpec,
    Searcher,
    _and_candidates,
    _batch_columns,
    _near_filter,
    _drop_dead,
    _exact_scores,
    _phrase_filter,
    _restrict_to_term,
)

# AST node shapes (nested tuples — picklable):
#   ("term", str)
#   ("phrase", (str, ...))
#   ("and", (positive_children...), (negated_children...))
#   ("or", (children...))
#   ("wild", prefix) / ("fuzzy", term, dist) — plan-time only; an
#   expander rewrites them to ("or", of ("term", ...)) before the
#   kernel ever sees the tree (expand_tree)

import re as _re

_FUZZ_RE = _re.compile(r"(.+?)~(\d*)")


def parse_boolean(query: str, tokenizer: str = "simple") -> tuple:
    """Query string → AST. Raises ValueError on syntax errors and on
    unbounded negation."""
    pure, _ = tokenizer_for(tokenizer)
    toks: list = []
    i, n = 0, len(query)
    while i < n:
        c = query[i]
        if c.isspace():
            i += 1
        elif c in "()":
            toks.append(c)
            i += 1
        elif c == '"':
            j = query.find('"', i + 1)
            j = n if j < 0 else j
            phrase = tuple(pure(query[i + 1:j]))
            i = j + 1
            slop = None
            if i < n and query[i] == "~":
                m = _re.match(r"~(\d+)", query[i:])
                if m:  # "a b"~N — proximity phrase (r5)
                    slop = int(m.group(1))
                    i += m.end()
            if phrase:
                toks.append(("PHRASE", phrase, slop))
        else:
            j = i
            while j < n and not query[j].isspace() and query[j] not in '()"':
                j += 1
            w = query[i:j]
            if w in ("AND", "OR", "NOT"):
                toks.append(w)
            elif w.endswith("*") and len(w) > 1:
                # wildcard leaf (r5): `par*` expands at plan time to the
                # OR of the index terms under the prefix
                ts = tuple(pure(w[:-1]))
                if len(ts) != 1:
                    raise ValueError(
                        f"wildcard prefix must be one term: {w!r}")
                toks.append(("WILD", ts[0]))
            elif "~" in w and _FUZZ_RE.fullmatch(w):
                # fuzzy leaf (r5): `term~` / `term~2` expands to the
                # index terms within the edit budget
                m = _FUZZ_RE.fullmatch(w)
                ts = tuple(pure(m.group(1)))
                if len(ts) != 1:
                    raise ValueError(
                        f"fuzzy base must be one term: {w!r}")
                toks.append(("FUZZ", ts[0], int(m.group(2) or 1)))
            else:
                # a WORD stays ONE token even when the tokenizer expands
                # it (camelCase → sub-tokens): it parses to a conjunction
                # group, so `NOT parseConfig` negates the whole word
                # instead of leaking sub-tokens into the positive clause
                ts = tuple(pure(w))
                if ts:
                    toks.append(("WORD", ts))
            i = j

    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else None

    def take():
        t = peek()
        pos[0] += 1
        return t

    def parse_expr():
        parts = [parse_and()]
        while peek() == "OR":
            take()
            parts.append(parse_and())
        return parts[0] if len(parts) == 1 else ("or", tuple(parts))

    def parse_and():
        positives, negatives = [], []
        while True:
            t = peek()
            if t is None or t in (")", "OR"):
                break
            if t == "AND":
                take()
                continue
            neg = False
            while peek() == "NOT":
                take()
                neg = not neg
            node = parse_primary()
            (negatives if neg else positives).append(node)
        if not positives and negatives:
            raise ValueError(
                "unbounded negation: NOT must be combined with at least "
                "one positive clause (cannot enumerate a complement)")
        if not positives:
            raise ValueError("empty clause")
        if not negatives and len(positives) == 1:
            return positives[0]
        return ("and", tuple(positives), tuple(negatives))

    def parse_primary():
        t = take()
        if t == "(":
            node = parse_expr()
            if take() != ")":
                raise ValueError("unbalanced parentheses")
            return node
        if isinstance(t, tuple) and t[0] == "PHRASE":
            seq, slop = t[1], t[2]
            if slop is not None:
                # "a b"~N: the distinct terms within an (T-1)+N window,
                # any order (documented divergence from Lucene's
                # edit-distance slop; transposition costs nothing here)
                dts = tuple(dict.fromkeys(seq))
                if len(dts) == 1:
                    return ("term", dts[0])
                return ("near", dts, slop)
            return ("phrase", seq) if len(seq) > 1 else ("term", seq[0])
        if isinstance(t, tuple) and t[0] == "WORD":
            if len(t[1]) == 1:
                return ("term", t[1][0])
            return ("and", tuple(("term", s) for s in t[1]), ())
        if isinstance(t, tuple) and t[0] == "WILD":
            return ("wild", t[1])
        if isinstance(t, tuple) and t[0] == "FUZZ":
            return ("fuzzy", t[1], t[2])
        raise ValueError(f"unexpected token {t!r}")

    if not toks:
        raise ValueError("empty query")
    node = parse_expr()
    if pos[0] != len(toks):
        raise ValueError(f"trailing tokens at {toks[pos[0]:]!r}")
    return node


def tree_has_expansion(node: tuple) -> bool:
    kind = node[0]
    if kind in ("wild", "fuzzy"):
        return True
    if kind == "or":
        return any(tree_has_expansion(c) for c in node[1])
    if kind == "and":
        return any(tree_has_expansion(c) for c in node[1] + node[2])
    return False


def expand_tree(node: tuple, expander) -> tuple:
    """Rewrite wildcard/fuzzy leaves to the OR of their index-term
    expansions via ``expander(mode, base, dist) -> [terms]`` (dict
    scan, sidecar range scan, or a driver vocabulary — same cap and
    (df desc, term asc) order as the standalone Q18/Q20 surfaces). An
    empty expansion becomes ``("term", "")`` — the empty string can
    never be an index term, so the leaf evaluates to the empty set
    (matches-nothing), exactly like an absent plain term."""
    kind = node[0]
    if kind == "wild":
        terms = expander("wildcard", node[1], 0)
    elif kind == "fuzzy":
        terms = expander("fuzzy", node[1], node[2])
    elif kind == "or":
        return ("or", tuple(expand_tree(c, expander) for c in node[1]))
    elif kind == "and":
        return ("and",
                tuple(expand_tree(c, expander) for c in node[1]),
                tuple(expand_tree(c, expander) for c in node[2]))
    else:
        return node
    if not terms:
        return ("term", "")
    if len(terms) == 1:
        return ("term", terms[0])
    return ("or", tuple(("term", t) for t in terms))


def tree_terms(node: tuple, positive: bool = True) -> tuple[set, set]:
    """(positive_terms, all_terms) of an AST."""
    pos_set: set = set()
    all_set: set = set()

    def walk(nd, is_pos):
        kind = nd[0]
        if kind == "term":
            all_set.add(nd[1])
            if is_pos:
                pos_set.add(nd[1])
        elif kind in ("phrase", "near"):
            all_set.update(nd[1])
            if is_pos:
                pos_set.update(nd[1])
        elif kind == "or":
            for c in nd[1]:
                walk(c, is_pos)
        else:  # and
            for c in nd[1]:
                walk(c, is_pos)
            for c in nd[2]:
                walk(c, False)

    walk(node, positive)
    return pos_set, all_set


def tree_has_phrase(node: tuple) -> bool:
    kind = node[0]
    if kind in ("phrase", "near"):  # both decode positions
        return True
    if kind == "or":
        return any(tree_has_phrase(c) for c in node[1])
    if kind == "and":
        return any(tree_has_phrase(c) for c in node[1] + node[2])
    return False


def _eval_node(node: tuple, blocks_of: dict, decoded: dict) -> np.ndarray:
    """AST → sorted candidate doc ids within one split.

    Conjunctive branches (and, phrase pre-intersection, term-leaf NOT)
    use the same rarest-first block-skipping intersection as plain AND
    search (``_and_candidates`` / ``_restrict_to_term``): only blocks
    whose doc-id range overlaps the running candidate set are decoded.
    OR branches must enumerate their full union by definition."""
    kind = node[0]
    none = np.zeros(0, np.int64)
    if kind == "term":
        blocks = blocks_of.get(node[1])
        if not blocks:
            return none
        for j in range(len(blocks)):
            ck = (node[1], j)
            if ck not in decoded:
                decoded[ck] = (decode_block_docs(blocks[j]), None, None)
        return np.concatenate(
            [decoded[(node[1], j)][0] for j in range(len(blocks))])
    if kind == "phrase":
        rows = [(t, blocks_of.get(t)) for t in sorted(set(node[1]))]
        if any(not b for _, b in rows):
            return none
        if len(rows) >= 2:
            cand = _and_candidates(rows, len(rows), decoded)
        else:
            cand = _eval_node(("term", rows[0][0]), blocks_of, decoded)
        if cand.size == 0:
            return none
        return _phrase_filter(cand, list(node[1]), blocks_of, decoded)
    if kind == "near":
        rows = [(t, blocks_of.get(t)) for t in sorted(set(node[1]))]
        if any(not b for _, b in rows):
            return none
        cand = _and_candidates(rows, len(rows), decoded)
        if cand.size == 0:
            return none
        return _near_filter(cand, NearSpec(list(node[1]), node[2],
                                           False), blocks_of, decoded)
    if kind == "or":
        out = none
        for c in node[1]:
            out = np.union1d(out, _eval_node(c, blocks_of, decoded))
        return out
    # and: evaluate complex children first (their result bounds the
    # candidate set), then restrict by term leaves with block skipping
    leaves = [c for c in node[1] if c[0] == "term"]
    others = [c for c in node[1] if c[0] != "term"]
    rows = [(c[1], blocks_of.get(c[1])) for c in leaves]
    if any(not b for _, b in rows):
        return none
    cand = None
    for c in others:
        s = _eval_node(c, blocks_of, decoded)
        cand = s if cand is None else np.intersect1d(
            cand, s, assume_unique=True)
        if cand.size == 0:
            return none
    if cand is None:
        cand = _and_candidates(rows, len(rows), decoded)
    else:
        for term, blocks in sorted(
                rows, key=lambda r: sum(b["n"] for b in r[1])):
            cand = _restrict_to_term(cand, term, blocks, decoded)
            if cand.size == 0:
                return none
    for c in node[2]:
        if cand.size == 0:
            return none
        if c[0] == "term":
            blocks = blocks_of.get(c[1])
            if not blocks:
                continue
            hit = _restrict_to_term(cand, c[1], blocks, decoded)
            cand = np.setdiff1d(cand, hit, assume_unique=True)
        else:
            cand = np.setdiff1d(cand, _eval_node(c, blocks_of, decoded),
                                assume_unique=True)
    return cand


def score_tree_split(tree: tuple, idf: dict[str, float], avgdl: float,
                     k: int, blocks_of: dict, decoded: dict,
                     tv=None) -> tuple[np.ndarray, np.ndarray]:
    """One split's boolean evaluation: select candidates via the AST,
    drop tombstoned docs (``tv``), exact-score over the query's
    positive terms (sorted order), cut to ≤k — ``(doc_ids, scores)`` in
    (score desc, doc_id asc) order. Shared by single-query
    search_boolean and the batched serving path (search_many
    mode='boolean'), which injects its per-batch shared ``decoded``
    cache."""
    cand = _drop_dead(_eval_node(tree, blocks_of, decoded), tv)
    if cand.size == 0:
        return cand, np.zeros(0)
    score_rows = [(t, blocks_of[t]) for t in sorted(idf)
                  if t in blocks_of]
    scores = _exact_scores(cand, score_rows, idf, avgdl, decoded)
    sel = np.lexsort((cand, -scores))[:min(k, cand.size)]
    return cand[sel], scores[sel]


def tree_kernel(tree: tuple, idf: dict[str, float], avgdl: float, k: int):
    """The executor kernel (:meth:`~datastream_io_spark.operators.
    indexed_search.Searcher._run`) of one boolean query: ``idf`` keys
    its positive terms (an index's own idf, or a partitioned root's
    global one)."""
    def kernel(term_rows, tv):
        return score_tree_split(tree, idf, avgdl, k, dict(term_rows), {},
                                tv)
    return kernel


def trees_kernel(trees: dict, avgdl: float, k: int):
    """The executor kernel of a boolean batch ``{query_id: (idf,
    tree)}``: the queries share one block-decode cache per split."""
    def kernel(term_rows, tv):
        blocks_of = dict(term_rows)
        decoded: dict = {}
        return _batch_columns([
            (qid, *score_tree_split(tree, idf, avgdl, k, blocks_of,
                                    decoded, tv))
            for qid, (idf, tree) in trees.items()])
    return kernel


def count_kernel(tree: tuple):
    """The executor kernel counting one split's live matches of
    ``tree`` — membership only: no tf/dl decode, no scoring."""
    def kernel(term_rows, tv):
        return (np.array([_drop_dead(_eval_node(tree, dict(term_rows), {}),
                                     tv).size]),)
    return kernel


def plan_boolean(query: str, stats: dict,
                 expander=None) -> tuple[tuple, set, set]:
    """Parse + positions guard + leaf expansion; returns
    (tree, positives, all_terms). ``expander`` resolves wildcard/fuzzy
    leaves (:func:`expand_tree`); queries without such leaves never
    need one."""
    tree = parse_boolean(query, stats["tokenizer"])
    if tree_has_phrase(tree) and not stats.get("positions", False):
        raise ValueError(
            "quoted phrases need a positional index — rebuild with "
            "build_index(..., positions=True)")
    if tree_has_expansion(tree):
        if expander is None:
            raise ValueError(
                "wildcard/fuzzy leaves need an expander — call through "
                "search_boolean / search_many / Searcher.search_many")
        tree = expand_tree(tree, expander)
    positives, all_terms = tree_terms(tree)
    return tree, positives, all_terms


def search_boolean(spark: SparkSession, index_dir: str, query: str,
                   k: int = 10, with_doc_cols: bool = False) -> DataFrame:
    """Q11 — boolean-filtered BM25 top-k over the built index."""
    return Searcher(spark, index_dir).search_boolean(query, k,
                                                     with_doc_cols)


def count_boolean(spark: SparkSession, index_dir: str,
                  query: str) -> int:
    """Exact number of live docs matching a boolean query (r5) —
    membership only: each split's kernel evaluates the tree over the
    doc streams (no tf/dl decode, no scoring) and emits ONE count row,
    the boolean analog of
    :func:`~datastream_io_spark.operators.indexed_search.match_count`
    (the "about N results" display primitive). Wildcard/fuzzy leaves
    and quoted/proximity phrases all apply."""
    return Searcher(spark, index_dir).count_boolean(query)

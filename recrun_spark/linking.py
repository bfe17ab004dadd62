"""Mention detection + entity linking + canonicalization rules.

These deterministic rules define the "reference-derived triples"
(FIXTURES.md §4): the golden generator applies them single-node to the Node
oracle's retained spans, and the Spark stages 2-4 implement the same rules
distributed.  Keeping the core functions here — imported by BOTH sides —
makes the rules a fixed function of the stage-1 output, so triple parity
measures the distributed implementation, not rule drift.

Rules:
* mention = longest-match alias hit, left-to-right non-overlapping, on the
  lowercased text of each retained ``text`` span, at word boundaries —
  the matches of ``\\b(?:longest|...|shortest)\\b``, found by one
  ``TrieMatcher`` for every dictionary;
* link = alias → candidate entity with max prior (ties → min entity_id);
* same-as edge = two entities sharing an alias where both priors >= 0.8
  (``aliases.STRONG_PRIOR``); canonical id = min entity_id in the connected
  component;
* triples per document (with doc_id provenance):
  (entity, mentioned_in, doc_id); (min, co_mentioned_with, max) per distinct
  canonical pair; (entity, illustrated_by, src) per retained img with a src;
  (next_page, next_page_of, doc_id) when next_page != ''.
"""

from __future__ import annotations

import re
from collections import defaultdict

from .fixtures.aliases import STRONG_PRIOR


_RE_WORD_CHAR = re.compile(r"\w")
_WORD_CACHE: dict = {}


def _is_word(ch: str) -> bool:
    r = _WORD_CACHE.get(ch)
    if r is None:
        r = _WORD_CACHE[ch] = bool(_RE_WORD_CHAR.match(ch))
    return r


class TrieMatcher:
    """Trie-based longest-match scanner with the semantics of the regex
    ``\\b(?:longest|...|shortest)\\b`` + ``finditer``: leftmost scan, at
    each start the longest alias whose trailing word boundary holds,
    non-overlapping (resume at match end).

    A surface can start only where ``\\b`` holds before its first
    character: at a token start (a word first character), or at a
    non-word character right after a word character.  The start scanner
    enumerates exactly those positions for the first characters the
    dictionary has, so on a word-only dictionary it is plain ``\\w+``.
    Cost is one dict probe per start plus a walk bounded by the longest
    alias, whatever the dictionary's size or alphabet.

    Differential-fuzzed against the regex (tests/test_properties.py).
    """

    __slots__ = ("root", "starts")
    _END = ""  # terminal marker key — single chars can never collide

    def __init__(self, surfaces):
        root: dict = {}
        for s in surfaces:
            if not s:
                continue  # an empty surface is no mention
            node = root
            for ch in s:
                nxt = node.get(ch)
                if nxt is None:
                    nxt = node[ch] = {}
                node = nxt
            node[self._END] = True
        self.root = root
        nonword_firsts = "".join(sorted(c for c in root if not _is_word(c)))
        self.starts = re.compile(
            r"\w+" + (r"|(?<=\w)[" + re.escape(nonword_firsts) + "]"
                      if nonword_firsts else ""))

    def find(self, low: str):
        """[(surface, start)] over already-lowercased text."""
        out = []
        root, END = self.root, self._END
        isw = _is_word
        n = len(low)
        resume = 0
        for m in self.starts.finditer(low):
            i = m.start()
            if i < resume:
                continue
            node = root.get(low[i])
            if node is None:
                continue
            j = i + 1
            best = -1
            while True:
                if END in node and (isw(low[j - 1])
                                    != (j < n and isw(low[j]))):
                    best = j
                if j >= n:
                    break
                node = node.get(low[j])
                if node is None:
                    break
                j += 1
            if best > 0:
                out.append((low[i:best], i))
                resume = best
        return out


def build_alias_pattern(surfaces):
    """Longest-match matcher with word boundaries over lowercased text:
    one ``TrieMatcher`` for every dictionary (an empty one matches
    nothing)."""
    return TrieMatcher(surfaces)


def find_mentions(text: str, pattern):
    """[(surface, start)] — non-overlapping, left-to-right, longest-first."""
    return pattern.find(text.lower())


def build_link_map(alias_rows) -> dict:
    """alias -> linked entity_id (max prior, ties -> min entity_id)."""
    best: dict = {}
    for alias, eid, prior in alias_rows:
        cur = best.get(alias)
        if (cur is None or prior > cur[1]
                or (prior == cur[1] and eid < cur[0])):
            best[alias] = (eid, prior)
    return {a: e for a, (e, _) in best.items()}


def same_as_edges(alias_rows):
    """Entity pairs sharing a strong alias (both priors >= STRONG_PRIOR)."""
    by_alias = defaultdict(list)
    for alias, eid, prior in alias_rows:
        if prior >= STRONG_PRIOR:
            by_alias[alias].append(eid)
    edges = set()
    for _, eids in by_alias.items():
        eids = sorted(set(eids))
        for i in range(1, len(eids)):
            edges.add((eids[0], eids[i]))  # star to min suffices for CC
    return sorted(edges)


def min_label_components(nodes, edges) -> dict:
    """{node: min-label component id} via union-find (path halving, union
    by min label) over ``nodes`` plus every edge endpoint.  THE single
    implementation shared by the golden canonical map and the driver-local
    CC fast path (operators._cc_driver_local) — both must stay in
    behavioral lockstep with the distributed star loop."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for n in nodes:
        find(n)
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}


def canonical_map(alias_rows) -> dict:
    """entity_id -> canonical_id via union-find.  The golden generator and
    ``stage3.canonicalize`` both build the canonical map with it."""
    entities = sorted({eid for _, eid, _ in alias_rows})
    return min_label_components(entities, same_as_edges(alias_rows))


def triples_for_doc(doc_id: str, retained_spans, next_page: str,
                    pattern, link_map: dict, canon: dict):
    """Apply the fixed triple rules to one document's stage-1 output.

    retained_spans: iterable of (kind, text, media_ref, offset).
    Returns a set of (subj, pred, obj, doc_id).
    """
    entities = set()
    for kind, text, media_ref, _ in retained_spans:
        if kind == "text" and text:
            for surface, _start in find_mentions(text, pattern):
                eid = link_map.get(surface)
                if eid is not None:
                    entities.add(canon.get(eid, eid))
    out = set()
    for e in entities:
        out.add((e, "mentioned_in", doc_id, doc_id))
    ents = sorted(entities)
    for i in range(len(ents)):
        for j in range(i + 1, len(ents)):
            out.add((ents[i], "co_mentioned_with", ents[j], doc_id))
    imgs = {media_ref for kind, _t, media_ref, _o in retained_spans
            if kind == "img" and media_ref}
    for e in ents:
        for ref in sorted(imgs):
            out.add((e, "illustrated_by", ref, doc_id))
    if next_page:
        out.add((next_page, "next_page_of", doc_id, doc_id))
    return out

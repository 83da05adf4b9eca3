"""Pure-Python thesaurus matcher — the semantic source of truth.

Reimplements (from scratch, token-level instead of reversed-byte darts
tries) the matching semantics of the reference:

- case split: abbreviations (``term.upper() == term``) and terms whose
  lowercase form collides with another term stay case-SENSITIVE; everything
  else matches case-insensitively on the lowercased text
  (``/root/reference/src/utils/string_match.py:91-140``).
- word-boundary matching: the reference matches byte offsets of the
  space-joined token string and requires boundaries at spaces
  (``string_match.py:142-185``); token-level n-gram matching over the same
  whitespace-joined tokens is equivalent, and is what we implement.
- overlap resolution ("leave only longest"): connected components of
  span overlap; per component keep the match with max end, tie-broken by
  min start (``/root/reference/src/ner_model/matcher_model.py:61-98``).
- adjacent merge: connected components of exact adjacency (e1 == s2);
  merged span = (min start, max end), label = label of the max-end member
  (``matcher_model.py:186-210``).
- BIO encode/decode with ``nc-*`` negative categories dropped at encode
  time (``/root/reference/src/ner_model/multi_label/two_stage.py:47-65``).

These functions run (a) inside the Arrow-batched trie UDF (mapInPandas)
of ``operators/mentions.py`` and (b) as the oracle for its parity tests
and for the relational rules built on the same semantics (the window
resolver ``resolve_overlaps_df``, chunk typing).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

Span = tuple[int, int]
Match = tuple[int, int, str]  # (start, end, label); end exclusive


def split_case_sensitivity(terms: list[str]) -> tuple[set[str], set[str]]:
    """Partition terms into (case_sensitive, case_insensitive).

    Reference: find_duplicated_lower_terms / find_case_sensitive_terms
    (string_match.py:122-140).
    """
    counts = Counter(t.lower() for t in set(terms))
    duplicated_lower = {t for t, n in counts.items() if n >= 2}
    cs, ci = set(), set()
    for term in set(terms):
        if term.upper() == term or term.lower() in duplicated_lower:
            cs.add(term)
        else:
            ci.add(term)
    return cs, ci


@dataclass
class TokenTrie:
    """Token-level trie over tokenized thesaurus terms.

    Two sub-tries: case-sensitive (exact tokens) and case-insensitive
    (lowercased tokens). ``match`` scans a token list and emits the longest
    match ending at every position (the same candidate set as the
    reference's per-boundary common-prefix search over reversed darts,
    string_match.py:216-250 — proven equivalent after overlap resolution).
    """

    cs_root: dict = field(default_factory=dict)
    ci_root: dict = field(default_factory=dict)
    max_len: int = 0
    LEAF = "\x00"

    @staticmethod
    def _insert(root: dict, toks: list[str], label: str) -> None:
        node = root
        for t in toks:
            node = node.setdefault(t, {})
        node[TokenTrie.LEAF] = label

    def insert(self, term_tokens: list[str], label: str, case_sensitive: bool) -> None:
        if not term_tokens:
            return
        self.max_len = max(self.max_len, len(term_tokens))
        if case_sensitive:
            self._insert(self.cs_root, term_tokens, label)
        else:
            self._insert(self.ci_root, [t.lower() for t in term_tokens], label)

    def _scan_from(self, root: dict, toks: list[str], i: int) -> tuple[int, str] | None:
        """Longest match starting at token i; returns (end, label)."""
        node = root
        best: tuple[int, str] | None = None
        j = i
        n = len(toks)
        while j < n:
            node = node.get(toks[j])
            if node is None:
                break
            j += 1
            lab = node.get(self.LEAF)
            if lab is not None:
                best = (j, lab)
        return best

    def match(self, tokens: list[str]) -> list[Match]:
        """All longest-per-start matches (cs over raw, ci over lowered).

        When both tries match at the same start, the longer match wins;
        equal lengths prefer case-sensitive (more specific).
        """
        lowered = [t.lower() for t in tokens]
        out: list[Match] = []
        for i in range(len(tokens)):
            m_cs = self._scan_from(self.cs_root, tokens, i) if self.cs_root else None
            m_ci = self._scan_from(self.ci_root, lowered, i) if self.ci_root else None
            if m_cs and m_ci:
                best = m_cs if m_cs[0] >= m_ci[0] else m_ci
            else:
                best = m_cs or m_ci
            if best is not None:
                out.append((i, best[0], best[1]))
        return out


def build_matcher(term2label: dict[str, str], tokenizer) -> TokenTrie:
    """Build the broadcastable trie from a term → label dict."""
    cs_terms, _ = split_case_sensitivity(list(term2label))
    trie = TokenTrie()
    # sorted insertion: colliding tokenized forms resolve to the
    # lexicographically LAST term, the same dedup rule thesaurus_with_case
    # applies — dict order would make the label depend on input order
    for term, label in sorted(term2label.items()):
        trie.insert(tokenizer(term), label, case_sensitive=term in cs_terms)
    return trie


# --- overlap resolution (W1) ---------------------------------------------------

def _overlap_components(matches: list[Match]) -> list[list[Match]]:
    """Connected components of interval overlap, via sort + running max end."""
    comps: list[list[Match]] = []
    cur: list[Match] = []
    max_end = -1
    for m in sorted(matches, key=lambda m: (m[0], m[1])):
        if cur and m[0] >= max_end:
            comps.append(cur)
            cur = []
            max_end = -1
        cur.append(m)
        max_end = max(max_end, m[1])
    if cur:
        comps.append(cur)
    return comps


def resolve_overlaps(matches: list[Match]) -> list[Match]:
    """Per overlap component keep max-end, tie-break min-start.

    Exact semantics of leave_only_longet_match (matcher_model.py:61-98).
    """
    out: list[Match] = []
    for comp in _overlap_components(matches):
        max_end = max(m[1] for m in comp)
        min_start = min(m[0] for m in comp if m[1] == max_end)
        keep = next(m for m in comp if m[0] == min_start and m[1] == max_end)
        out.append(keep)
    return sorted(out)


def merge_adjacent(matches: list[Match]) -> list[Match]:
    """Merge chains of exactly-adjacent spans; label of the max-end member.

    Exact semantics of joint_adjacent_term (matcher_model.py:186-210).
    Input must be non-overlapping (i.e. after resolve_overlaps).
    """
    out: list[Match] = []
    group: list[Match] = []
    for m in sorted(matches):
        if group and m[0] == group[-1][1]:
            group.append(m)
        else:
            if group:
                out.append(_merge_group(group))
            group = [m]
    if group:
        out.append(_merge_group(group))
    return out


def _merge_group(group: list[Match]) -> Match:
    if len(group) == 1:
        return group[0]
    start = min(m[0] for m in group)
    end = max(m[1] for m in group)
    label = max(group, key=lambda m: m[1])[2]
    return (start, end, label)


def match_sentence(trie: TokenTrie, tokens: list[str]) -> list[Match]:
    """Full NERMatcher.predict span path: match → resolve → merge."""
    return merge_adjacent(resolve_overlaps(trie.match(tokens)))


# --- BIO ------------------------------------------------------------------------

def spans_to_bio(n_tokens: int, matches: list[Match]) -> list[str]:
    """BIO-encode spans; nc-* (negative-category) spans become O.

    Reference: two_stage.py:47-65 (skips labels starting 'nc-'),
    matcher_model.py:237-246 (B-/I- assignment).
    """
    tags = ["O"] * n_tokens
    for s, e, label in matches:
        if label.startswith("nc-"):
            continue
        for i in range(s, min(e, n_tokens)):
            tags[i] = ("B-" if i == s else "I-") + label
    return tags


def bio_to_spans(tags: list[str]) -> list[Match]:
    """Decode BIO tags back to spans (seqeval get_entities semantics)."""
    spans: list[Match] = []
    start, label = None, None
    for i, tag in enumerate(tags):
        if tag.startswith("B-"):
            if start is not None:
                spans.append((start, i, label))
            start, label = i, tag[2:]
        elif tag.startswith("I-") and start is not None and tag[2:] == label:
            continue
        elif tag.startswith("I-"):
            # I- without matching B- opens a new span (seqeval lenient)
            if start is not None:
                spans.append((start, i, label))
            start, label = i, tag[2:]
        else:
            if start is not None:
                spans.append((start, i, label))
            start, label = None, None
    if start is not None:
        spans.append((start, len(tags), label))
    return spans

"""Fuzzy string similarity + label-likeness — exact ports of the
reference's heuristics to web-page field vocabulary.

- ``_sim_core`` replicates the reference's similarity_score
  (/root/reference/ocr/extractors/cni_extractor_18_f.py:134-156) on
  upper().strip()'d strings: difflib.SequenceMatcher.ratio() plus a
  Jaro-Winkler-style prefix bonus ``base + prefix_len*0.1*(1-base)``
  capped at 1.0 (prefix up to 4).
- ``is_likely_label`` replicates the four-way label test of
  cni_extractor_18_f.py:251-291 (bilingual-slash hint, fuzzy >= 0.75 vs
  known labels, >= half words in the keyword list, exact keyword).

Vocabulary is the web-field analogue of the CNI anchor dictionaries
(cni_extractor_18_f.py:26-43): fields title/author/category/summary
instead of nom/prenom/lieu/profession.
"""

from __future__ import annotations

import threading
from difflib import SequenceMatcher
from functools import lru_cache

SIMILARITY_THRESHOLD = 0.70   # anchor detection (ref: __init__ default)
LABEL_SIM_THRESHOLD = 0.75    # label-likeness  (ref: is_likely_label)

# Per-field anchor vocabularies (ref anchors dict, _18_f.py:26-33).
ANCHORS: dict[str, list[str]] = {
    "title": ["TITLE", "HEADLINE", "TITLE/HEADLINE"],
    "author": ["AUTHOR", "WRITTEN BY", "POSTED BY", "AUTHOR/WRITTEN BY"],
    "category": ["CATEGORY", "FILED UNDER", "TOPICS", "SECTION"],
    "summary": ["SUMMARY", "ABSTRACT", "OVERVIEW", "TL;DR"],
}
ANCHOR_FIELDS = list(ANCHORS.keys())

# All known labels (ref all_labels, _18_f.py:36-43).
EXTRA_LABELS = [
    "PUBLISHED", "PUBLISHED ON", "DATE", "POSTED", "TAGS", "SHARE",
    "COMMENTS", "READ MORE", "RELATED ARTICLES", "NEWSLETTER", "MENU",
    "SIGN IN", "LOG IN", "SEARCH", "HOME", "ABOUT", "CONTACT",
]
ALL_LABELS: frozenset[str] = frozenset(
    a for labels in ANCHORS.values() for a in labels
) | frozenset(EXTRA_LABELS)

# Composed-label keyword list (ref label_words, _18_f.py:272-275).
LABEL_WORDS = [
    "TITLE", "HEADLINE", "AUTHOR", "WRITTEN", "POSTED", "CATEGORY",
    "FILED", "UNDER", "TOPICS", "SECTION", "SUMMARY", "ABSTRACT",
    "OVERVIEW", "PUBLISHED", "DATE", "TAGS", "BY",
]
_LABEL_WORDS_SET = frozenset(LABEL_WORDS)

# _sim_core contract: the vocabulary constants must be their own
# upper().strip() normal form (checked once here, not per call).
assert all(
    a == a.upper().strip()
    for a in (*(x for v in ANCHORS.values() for x in v), *EXTRA_LABELS)
)
_MAX_LABEL_LEN = max(len(a) for a in ALL_LABELS)
# Frozen iteration order with precomputed lengths for the label loop
# (frozenset iteration order is stable within a process; the loop's
# result is order-independent — ANY label over threshold returns True).
_LABELS_WITH_LEN = tuple((a, len(a)) for a in ALL_LABELS)
MAX_ANCHOR_LEN = max(len(a) for v in ANCHORS.values() for a in v)

# Bilingual-slash hint words (ref _18_f.py:258).
SLASH_HINT_WORDS = [
    "TITLE", "HEADLINE", "AUTHOR", "CATEGORY", "SECTION", "SUMMARY",
    "ABSTRACT", "DATE", "PUBLISHED",
]


# SequenceMatcher preprocesses only seq2 (__chain_b + the quick_ratio
# char-multiset); every caller passes an anchor/label from the small
# fixed vocabulary as str2, so reusing one matcher per seq2 skips that
# preprocessing on every call. set_seq1 invalidates difflib's cached
# matching blocks, so results are bit-identical to a fresh matcher.
# Thread-local because set_seq1 mutates the matcher (one Spark python
# worker runs one task, but don't rely on it).
_SM_CACHE = threading.local()
_SM_CACHE_CAP = 4096  # vocabulary is ~60 strings; cap is paranoia


def _matcher_for(s2: str) -> SequenceMatcher:
    cache = getattr(_SM_CACHE, "by_b", None)
    if cache is None:
        cache = _SM_CACHE.by_b = {}
    sm = cache.get(s2)
    if sm is None:
        sm = SequenceMatcher(None, "", s2)
        if len(cache) < _SM_CACHE_CAP:
            cache[s2] = sm
    return sm


def _sim_core(s1: str, s2: str) -> float:
    """difflib ratio + prefix bonus, capped at 1.0, of two
    upper().strip()'d strings. Callers normalise once (the label/anchor
    loops would otherwise re-upper the same text once per vocabulary
    entry); the vocabulary constants are already in normal form
    (asserted above).

    Length-ratio prune (provably safe vs both thresholds): ratio() is
    bounded by 2*min(l1,l2)/(l1+l2); if max > 3*min that bound is < 0.5,
    and even with the maximal prefix bonus the final score is
    < 0.4 + 0.6*0.5 = 0.70 — strictly below every threshold used, so
    returning 0.0 early never changes a threshold decision. This prunes
    long paragraph blocks from the quadratic difflib loop."""
    l1, l2 = len(s1), len(s2)
    if 3 * min(l1, l2) < max(l1, l2):
        return 0.0
    # Second prune, same proof shape: final <= 0.4 + 0.6*base and
    # base <= quick_ratio (char-multiset upper bound, O(n)); when even
    # the bound is below the lowest threshold in use (0.70), the exact
    # value can never matter — every caller only compares against
    # thresholds >= 0.70. Skips the quadratic matching loop for most
    # non-matching pairs.
    sm = _matcher_for(s2)
    sm.set_seq1(s1)
    if 0.4 + 0.6 * sm.quick_ratio() < 0.70:
        return 0.0
    base = sm.ratio()
    prefix = 0
    for i in range(min(4, len(s1), len(s2))):
        if s1[i] == s2[i]:
            prefix += 1
        else:
            break
    return min(base + prefix * 0.1 * (1.0 - base), 1.0)


@lru_cache(maxsize=131072)
def is_likely_label(text: str) -> bool:
    """True if the block text looks like a field label, not a value.

    Pure function of text -> memoized: the cascade re-tests the same
    block texts once per field during proximity binding (4x) and common
    boilerplate strings recur across documents; the cache removes ~75%
    of kernel CPU (difflib dominates the profile otherwise). Per-process
    cache — safe in Spark workers."""
    text_upper = text.upper()

    if "/" in text and any(w in text_upper for w in SLASH_HINT_WORDS):
        return True

    tus = text_upper.strip()
    # Exact label hit: _sim_core(tus, tus) == 1.0 >= threshold, so the
    # set lookup short-circuits the fuzzy loop with the same answer.
    if tus in ALL_LABELS:
        return True
    # Whole-loop skip for paragraph-length text: 3*min < max prunes
    # every label when len(tus) > 3*max label length, so the loop would
    # contribute nothing (exact, same proof as the in-score prune).
    if len(tus) <= 3 * _MAX_LABEL_LEN:
        lt = len(tus)
        for label, ll in _LABELS_WITH_LEN:
            # Inline the 3*min < max length prune (identical to
            # _sim_core's first check) to skip the call entirely for
            # labels it would zero anyway.
            if 3 * (lt if lt < ll else ll) < (ll if lt < ll else lt):
                continue
            if _sim_core(tus, label) >= LABEL_SIM_THRESHOLD:
                return True

    words = text_upper.split()
    if len(words) > 1:
        matches = sum(1 for w in words if w in _LABEL_WORDS_SET)
        if matches >= len(words) / 2:
            return True

    return text_upper in _LABEL_WORDS_SET

"""Character-bigram fluency scoring — a deterministic, model-free
perplexity analog for junk filtering.

The log-probability table is built at import time from a frozen in-repo
seed text (no downloads, no randomness); scores are average bigram
log-probs, so clean natural-language text scores high while mojibake,
binary spew, and keyboard mash score low.  Used as the third quality signal
next to token counts and stopword ratios (`textstats.quality_score`).

Per-string (`bigram_logp`); the curate pipeline runs it inside the fused
enrichment stage (`operators/enrich.py:enrich_pages`).
"""

from __future__ import annotations

import math
from collections import Counter

# Frozen seed corpus: plain public-domain-style English prose assembled for
# this repo (what matters is coverage of common bigrams, not provenance).
_SEED = (
    "the quick brown fox jumps over the lazy dog while the river bends "
    "slowly through the valley and the old stone bridge carries travelers "
    "toward the market town where merchants sell grain cloth and salted "
    "fish beside the harbor wall every morning brings new carts along the "
    "dusty road and children run between the stalls calling to one another "
    "in the bright air of early summer the farmers watch the sky for rain "
    "and mend their fences before the long season of work begins again "
)

_FLOOR = -10.0


def _build_table(seed: str) -> dict[str, float]:
    counts: Counter[str] = Counter(
        seed[i : i + 2] for i in range(len(seed) - 1)
    )
    total = sum(counts.values())
    return {bg: math.log(c / total) for bg, c in counts.items()}


_LOGP = _build_table(_SEED)


def bigram_logp(text: str) -> float:
    """Average bigram log-prob over the lowercased text; empty -> FLOOR."""
    t = " ".join(text.lower().split())
    if len(t) < 2:
        return _FLOOR
    s = 0.0
    n = len(t) - 1
    get = _LOGP.get
    for i in range(n):
        s += get(t[i : i + 2], _FLOOR)
    return s / n


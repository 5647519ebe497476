"""Language identification for extracted text (pipeline operator).

Deterministic profile scorer — no model download, no randomness:

* CJK codepoint ratio decides `zh` outright;
* otherwise the text is scored against per-language profiles of (a) frequent
  stopwords and (b) characteristic letters (accents), mirroring the
  n-gram-histogram approach of classic langid tools in a transparent,
  auditable form.

Per-string (`detect_lang`); the curate pipeline runs it inside the fused
enrichment stage (`operators/enrich.py:enrich_pages`).  This is the richer
engine-side complement to the SQL-oracled marker counter in
`operators/textstats.py:lang_id`.
"""

from __future__ import annotations

import re

from lightly_ocr_spark.contract import CJK_RE

PROFILES: dict[str, tuple[frozenset[str], str]] = {
    # lang -> (stopword set, characteristic letters)
    "en": (frozenset("the and of to in is that with for was as are this "
                     "from while every under near".split()), ""),
    "fr": (frozenset("le la les des une dans par avec pour est chaque "
                     "près ses très journée".split()), "éèêàçœùâî"),
    "es": (frozenset("el los las una sobre cada cerca de perro día años "
                     "señora niño".split()), "ñáéíóúü¿¡"),
    "de": (frozenset("der die das und ein eine mit für ist über während "
                     "einen braune".split()), "äöüß"),
}

_WORD_RE = re.compile(r"[^\W\d_]+", re.UNICODE)


def detect_lang(text: str) -> str:
    if not text:
        return "und"
    n_cjk = len(CJK_RE.findall(text))
    if n_cjk * 4 >= len(text):
        return "zh"
    words = [w.lower() for w in _WORD_RE.findall(text)]
    if not words:
        return "und"
    lower = text.lower()
    best_lang, best_score = "und", 0.0
    for lang, (stops, chars) in PROFILES.items():
        hit = sum(1 for w in words if w in stops)
        score = hit / len(words)
        if chars:
            score += 2.0 * sum(lower.count(c) for c in chars) / max(len(lower), 1)
        if score > best_score:
            best_lang, best_score = lang, score
    return best_lang if best_score > 0.0 else "und"


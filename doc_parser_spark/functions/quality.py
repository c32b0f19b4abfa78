"""Text-quality scoring — port of PagePreprocessingModel.rate_text_quality
(/root/reference/docling/models/page_preprocessing_model.py:25-141).

Hard garbage (replacement char, GLYPH<hex>, /G12/G34 runs, leading
"/token /token" runs) scores 0.0; three or more fragmented-word patterns
cost 0.1 each; floor at 0.0.
"""

from __future__ import annotations

import re

GLYPH_RE = re.compile(r"GLYPH<[0-9A-Fa-f]+>")
SLASH_G_RE = re.compile(r"(?:/G\d+){2,}")
FRAG_RE = re.compile(r"\b[A-Za-z](?:/[a-z]{1,3}\.[a-z]{1,3}){2,}\b")
SLASH_NUMBER_GARBAGE_RE = re.compile(r"(?:/\w+\s*){2,}")


def rate_text_quality(text: str) -> float:
    # exact fast path: every trigger pattern requires '/', '�' or 'GLYPH<'
    # somewhere in the text — three C-speed substring probes clear the
    # common clean-text case without running any regex
    if "/" not in text and "�" not in text and "GLYPH<" not in text:
        return 1.0
    if (
        "�" in text
        or GLYPH_RE.search(text)
        or SLASH_G_RE.search(text)
        or SLASH_NUMBER_GARBAGE_RE.match(text)
    ):
        return 0.0

    penalty = 0.0
    frag_matches = FRAG_RE.findall(text)
    if len(frag_matches) >= 3:
        penalty += 0.1 * len(frag_matches)
    return max(1.0 - penalty, 0.0)

"""Text sanitization — hyphen de-wrap + unicode normalization.

Port of PageAssembleModel.sanitize_text
(/root/reference/docling/models/page_assemble_model.py:34-65): join wrapped
lines, removing a trailing hyphen when both neighbor words are alphanumeric,
then apply the fixed 1:1-ish character normalization table.
"""

from __future__ import annotations

import re

_WORD_RE = re.compile(r"\b[\w]+\b")

# the reference's normalization table (page_assemble_model.py:58-63)
_CHAR_MAP = [
    ("⁄", "/"),   # ⁄
    ("’", "'"),   # ’
    ("‘", "'"),   # ‘
    ("“", '"'),   # “
    ("”", '"'),   # ”
    ("•", "·"),  # • → ·
]


def sanitize_text(lines: list[str]) -> str:
    if len(lines) <= 1:
        # exact reference behavior (page_assemble_model.py:35-37): single-line
        # input returns EARLY — no character normalization, no strip
        return " ".join(lines)
    else:
        lines = list(lines)
        for ix in range(len(lines) - 1):
            prev_line = lines[ix]
            line = lines[ix + 1]
            if prev_line.endswith("-"):
                prev_words = _WORD_RE.findall(prev_line)
                line_words = _WORD_RE.findall(line)
                if (
                    prev_words
                    and line_words
                    and prev_words[-1].isalnum()
                    and line_words[0].isalnum()
                ):
                    lines[ix] = prev_line[:-1]
            else:
                lines[ix] += " "
        sanitized = "".join(lines)

    for src, dst in _CHAR_MAP:
        sanitized = sanitized.replace(src, dst)
    return sanitized.strip()

"""The contract module states each rule once.

``plans/driver_queries.py`` shares a CTE that two oracles use as one
fragment and folds builders that differ in one argument into one factory.
This test fails when a block of ``MIN_LINES`` or more consecutive source
lines (exact text, indentation included, with at least ``MIN_TEXT``
non-blank lines) appears twice in the module. No Spark session is needed.
"""

from __future__ import annotations

from collections import defaultdict
from pathlib import Path

MODULE = (
    Path(__file__).resolve().parents[1]
    / "doc_parser_spark"
    / "plans"
    / "driver_queries.py"
)
MIN_LINES = 8
MIN_TEXT = 3


def repeated_blocks(lines: list[str]) -> list[tuple[int, int, int]]:
    """(first start, second start, length) of each maximal run of
    ``MIN_LINES`` or more identical lines that occurs twice; 1-based."""
    starts = defaultdict(list)
    for i in range(len(lines) - MIN_LINES + 1):
        starts[tuple(lines[i : i + MIN_LINES])].append(i)
    runs = set()
    for pos in starts.values():
        for k, first in enumerate(pos):
            for second in pos[k + 1 :]:
                a, b = first, second
                while a > 0 and lines[a - 1] == lines[b - 1]:
                    a, b = a - 1, b - 1
                n = 0
                while b + n < len(lines) and lines[a + n] == lines[b + n]:
                    n += 1
                if sum(1 for x in lines[a : a + n] if x.strip()) >= MIN_TEXT:
                    runs.add((a + 1, b + 1, n))
    return sorted(runs)


def test_no_block_repeats_in_the_contract_module():
    lines = MODULE.read_text().split("\n")
    found = [
        f"lines {a}-{a + n - 1} repeat at {b}-{b + n - 1}: {lines[a - 1].strip()}"
        for a, b, n in repeated_blocks(lines)
    ]
    assert found == [], (
        "share the repeated block as one fragment or factory:\n"
        + "\n".join(found)
    )


def test_a_repeated_block_is_found():
    block = [f"  line {i}" for i in range(MIN_LINES)]
    lines = ["head", *block, "middle", *block, "tail"]
    assert repeated_blocks(lines) == [(2, 11, MIN_LINES)]
    assert repeated_blocks(["head", *block, "tail"]) == []

"""Source-level checks on how the suite marks its tests."""

from __future__ import annotations

import re
from pathlib import Path

TESTS = Path(__file__).resolve().parent
SLOW = re.compile(r"^\s*@pytest\.mark\.slow\s*(#.*)?$")
NEXT = re.compile(r"^\s*(@|def |async def )")


def test_slow_marker_sits_on_its_test():
    """A ``@pytest.mark.slow`` line must be followed directly by another
    decorator or the ``def`` it marks.  A blank line after it still
    decorates the next function, which reads as if the marker belonged
    to the test above."""
    misplaced = []
    for path in sorted(TESTS.glob("*.py")):
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if SLOW.match(line) and not (i + 1 < len(lines) and NEXT.match(lines[i + 1])):
                misplaced.append(f"{path.name}:{i + 1}")
    assert not misplaced, misplaced

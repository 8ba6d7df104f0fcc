"""Regenerate tests/slow_tests.txt from a measured pytest durations run.

The two-tier suite (pytest.ini) deselects tests listed in
tests/slow_tests.txt from the default run so the driver's verify-window
pytest finishes (VERDICT r13 item 1: the full suite's 13:00-35:52 wall
outgrew the window).  The list is DATA, produced from a measurement, never
hand-curated — regenerate it whenever the suite gains heavy tests:

  python -m pytest tests/ -q --durations=0 -m "slow or not slow" > /tmp/durations.out
  python tools/mark_slow.py /tmp/durations.out [threshold_seconds=1.0]

Only `call` durations count (setup/teardown are shared fixtures).  The
full suite still runs at round close (tools/round_close.py).
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "tests", "slow_tests.txt")

HEADER = """\
# Tests measured >= {thresh} s call time on a calm host (latest
# pytest --durations=0 run; regenerate with tools/mark_slow.py).
# Node-ids listed here are marked 'slow' by
# tests/conftest.py::pytest_collection_modifyitems and deselected by the
# default tier (pytest.ini addopts -m 'not slow') so the driver's
# verify-window pytest finishes; the FULL suite remains one flag away
# (-m 'slow or not slow', run at round close).  A stale entry (test
# renamed/removed) is harmless: it matches nothing and the test, if it
# still exists, simply runs in the fast tier.
"""


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    thresh = float(sys.argv[2]) if len(sys.argv) > 2 else 1.0
    entries: list[tuple[float, str]] = []
    for line in open(sys.argv[1]):
        m = re.match(r"^(\d+\.\d+)s call\s+(.+?)\s*$", line)
        if m and float(m.group(1)) >= thresh:
            entries.append((float(m.group(1)), m.group(2)))
    if not entries:
        print("mark_slow: no call durations found — was --durations=0 set?")
        return 1
    entries.sort(key=lambda x: (-x[0], x[1]))
    with open(OUT, "w") as f:
        f.write(HEADER.format(thresh=thresh))
        for _, nid in entries:
            f.write(nid + "\n")
    print(f"mark_slow: wrote {len(entries)} entries >= {thresh}s to {OUT}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

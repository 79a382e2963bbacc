"""Extended one-off regex-parity fuzz (beyond the CI hypothesis run).

Generates N random fragment-concatenated probes over the URL/HTML-ish
alphabet the CI fuzz uses and asserts every intel + structural pattern
produces findall() results identical to the reference's own compiled
patterns. CI runs 250 hypothesis examples per session; this tool runs
tens of thousands for periodic deep validation.

Usage: python scripts/fuzz_parity.py [n_examples] [seed]
"""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from photon_spark import regexes as rx  # noqa: E402
from tests.test_regex_parity import REF, _FRAGMENTS, ref_ns as _ref_fixture  # noqa: E402


def load_ref():
    # reuse the test fixture's loader body (it is a plain function
    # under pytest's decorator)
    fn = getattr(_ref_fixture, "__wrapped__", _ref_fixture)
    return fn()


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1234
    if not os.path.exists(REF):
        # the same gate that skips tests/test_regex_parity.py
        print(f"{REF} not found: no reference patterns to compare against")
        return 2
    rng = random.Random(seed)
    ref = load_ref()
    ref_map = {name: pat for pat, name in ref["rintels"]}
    ours = {name: pat for pat, name in rx.INTEL_PATTERNS}
    structural = [
        ("HREF", "rhref"), ("SCRIPT_SRC", "rscript"),
        ("JS_ENDPOINT", "rendpoint"), ("HIGH_ENTROPY_TOKEN", "rentropy"),
    ]
    mismatches = 0
    for i in range(n):
        s = "".join(
            rng.choice(_FRAGMENTS) for _ in range(rng.randint(0, 60))
        )
        for name, pat in ours.items():
            if pat.findall(s) != ref_map[name].findall(s):
                mismatches += 1
                print(f"MISMATCH {name}: {s!r}")
        for ours_name, ref_name in structural:
            if getattr(rx, ours_name).findall(s) != ref[ref_name].findall(s):
                mismatches += 1
                print(f"MISMATCH {ours_name}: {s!r}")
        if i and i % 5000 == 0:
            print(f"  {i}/{n} probes, {mismatches} mismatches")
    print(f"done: {n} probes x {len(ours) + len(structural)} patterns, "
          f"{mismatches} mismatches")
    return 1 if mismatches else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Shuffle-byte regression diff between two bench runs.

Wall-time can hide an exchange regression (an extra shuffle of a small
frame moves sf0.1 timings by noise); the per-query
``shuffle_read_write_bytes`` recorded in BENCH_FULL.json (round 9+)
cannot. This tool diffs two BENCH_FULL-shaped files and flags queries
whose shuffle READ bytes grew beyond a ratio+absolute floor — the
mechanical complement of tests/test_shuffle_bytes.py's zero-claims.

Usage:
  python tools/shuffle_diff.py OLD.json [NEW.json] [--ratio 1.5] [--min-bytes 65536]
  python tools/shuffle_diff.py git:HEAD~1 BENCH_FULL.json

``git:REF`` reads BENCH_FULL.json from that git revision, so a round's
sweep can be compared against the previous round's committed one.
Exit code 1 if any regression is flagged (gate-friendly).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(spec: str) -> dict:
    if spec.startswith("git:"):
        out = subprocess.run(
            ["git", "show", f"{spec[4:]}:BENCH_FULL.json"],
            capture_output=True,
            text=True,
            check=True,
            cwd=ROOT,
        ).stdout
        return json.loads(out)
    with open(spec) as f:
        return json.load(f)


def diff(
    old: dict, new: dict, ratio: float = 1.5, min_bytes: float = 65536
) -> tuple[list[tuple[str, int, int]], int]:
    """Flag queries whose shuffle READ bytes grew beyond the
    ratio+absolute floor (or from 0 to anything) between two
    BENCH_FULL-shaped dicts. Returns (flagged, n_common) — importable
    so bench.py can report the gate at the end of every sweep."""
    o = old.get("shuffle_read_write_bytes", {})
    nw = new.get("shuffle_read_write_bytes", {})
    flagged = []
    common = set(o) & set(nw)
    for name in sorted(common):
        orb, nrb = o[name][0], nw[name][0]
        if orb < 0 or nrb < 0:
            continue  # UI unavailable in one of the runs
        grew = nrb - orb
        if nrb > max(orb * ratio, orb + min_bytes) and grew > min_bytes:
            flagged.append((name, orb, nrb))
        # a zero-shuffle query growing ANY bytes is always a flag
        elif orb == 0 and nrb > 0:
            flagged.append((name, orb, nrb))
    return flagged, len(common)


def main() -> int:
    # split positionals from options, supporting both --name=value and
    # --name value (the latter's value must NOT leak into positionals)
    args: list[str] = []
    opts: dict[str, str] = {}
    it = iter(sys.argv[1:])
    for a in it:
        if a.startswith("--"):
            if "=" in a:
                k, v = a[2:].split("=", 1)
                opts[k] = v
            else:
                opts[a[2:]] = next(it, "")
        else:
            args.append(a)

    def _opt(name: str, default: float) -> float:
        return float(opts[name]) if name in opts else default

    if not args:
        print(__doc__)
        return 2
    old = _load(args[0])
    new = _load(args[1] if len(args) > 1 else os.path.join(ROOT, "BENCH_FULL.json"))
    ratio = _opt("ratio", 1.5)
    min_bytes = _opt("min-bytes", 65536)

    flagged, n_common = diff(old, new, ratio, min_bytes)
    if flagged:
        print(f"{len(flagged)} shuffle-byte regressions "
              f"(ratio>{ratio} and +{int(min_bytes)}B, or 0 -> >0):")
        for name, a, b in flagged:
            print(f"  {name}: {a} -> {b} read bytes")
        return 1
    print(f"no shuffle regressions across {n_common} common queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())

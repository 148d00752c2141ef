"""Compare two op_bench JSONL sweeps: touched vs control aggregates.

Usage: python tools/opbench_diff.py before.jsonl after.jsonl [touched ...]
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict[str, float]:
    out = {}
    for line in open(path):
        d = json.loads(line)
        if d.get("err") is None:
            out[d["name"]] = d["min"]
    return out


def main() -> int:
    before, after = load(sys.argv[1]), load(sys.argv[2])
    touched = set(sys.argv[3:])
    common = sorted(set(before) & set(after))
    for group, names in (
        ("touched", [n for n in common if n in touched]),
        ("untouched", [n for n in common if n not in touched]),
        ("all", common),
    ):
        sb = sum(before[n] for n in names)
        sa = sum(after[n] for n in names)
        print(
            f"{group}: n={len(names)}  sum_min {sb:.1f}s -> {sa:.1f}s "
            f"({sa / sb:.2f}x)" if sb else f"{group}: n=0"
        )
    print("\nbiggest regressions (after - before):")
    for n in sorted(common, key=lambda n: after[n] - before[n], reverse=True)[:10]:
        print(f"  {n:40s} {before[n]:7.2f} -> {after[n]:7.2f}")
    print("\nbiggest improvements:")
    for n in sorted(common, key=lambda n: before[n] - after[n], reverse=True)[:10]:
        print(f"  {n:40s} {before[n]:7.2f} -> {after[n]:7.2f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Compare two sets of run artifacts (``.perfbench_out/*.json``).

    python3 perfbench/compare.py BASE.json [BASE.json ...] -- NEW.json [NEW.json ...]

Prints, per metric, each side's median and the change as a share of the
base median. Refuses (exit 3) to compare runs made at different
``local[N]``, for different workloads or with different trace settings:
executor CPU and every time are only comparable at equal N.
"""

from __future__ import annotations

import json
import sys
from statistics import median


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = _load(argv[:cut]), _load(argv[cut + 1:])
    if not base or not new:
        print("need at least one artifact on each side", file=sys.stderr)
        return 2
    keys = ("master", "cpus", "workload", "trace")
    shapes = {tuple(a["env"][k] for k in keys) for a in base + new}
    if len(shapes) != 1:
        print(f"refusing to compare runs with different {keys}: {sorted(shapes)}", file=sys.stderr)
        return 3
    for name in base[0]["metrics"]:
        b = median([a["metrics"][name]["value"] for a in base])
        n = median([a["metrics"][name]["value"] for a in new])
        unit = base[0]["metrics"][name]["unit"]
        change = f"{(n - b) / b:+.1%}" if b else "n/a"
        print(f"{name:40s} {b:14.6g} -> {n:14.6g} {unit:6s} {change}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

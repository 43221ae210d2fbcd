"""Compare two sets of full benchmark records, metric by metric.

    python3 perfbench/compare.py <old records> <new records>

Each argument is a record file written by ``run.py`` or a directory of
them. Prints, per workload and metric, the median of each side and the
change. Refuses (exit code 2) to compare records taken on hosts with a
different number of cores.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    return [json.load(open(f)) for f in files]


def table(records: list[dict]) -> dict[tuple[str, str], list[float]]:
    out: dict[tuple[str, str], list[float]] = {}
    for r in records:
        for section in ("end_to_end", "per_layer"):
            for name, value in r.get(section, {}).items():
                if r["trace"] == (section == "per_layer"):
                    out.setdefault((r["workload"], name), []).append(value)
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    old, new = load(argv[0]), load(argv[1])
    cores = {r["host"]["cores"] for r in old + new}
    if len(cores) != 1:
        print(f"compare: records come from hosts with different core counts {sorted(cores)}; "
              "they are not comparable", file=sys.stderr)
        return 2
    a, b = table(old), table(new)
    print(f"{'workload':16} {'metric':40} {'old':>12} {'new':>12} {'change':>8}  n")
    for key in sorted(a.keys() & b.keys()):
        ma, mb = statistics.median(a[key]), statistics.median(b[key])
        change = f"{(mb - ma) / ma:+.1%}" if ma else "n/a"
        print(f"{key[0]:16} {key[1]:40} {ma:12.4g} {mb:12.4g} {change:>8}  {len(a[key])}/{len(b[key])}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

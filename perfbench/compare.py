"""Compare two sets of saved benchmark results.

    python3 perfbench/compare.py BASE.json [BASE.json ...] --against NEW.json [NEW.json ...]

Each file is one run as written under ``.perfbench_work/results/``. Prints,
per metric, both sides' medians and the new/base ratio. Refuses (exit 2)
when the runs come from different host fingerprints or workloads: a
number measured on other cores, memory or versions is not comparable.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


class Incomparable(ValueError):
    pass


def load(paths: list[str]) -> list[dict]:
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append(json.load(f))
    return runs


def compare(base: list[dict], new: list[dict]) -> dict[str, dict]:
    keys = {(json.dumps(r["report"]["fingerprint"], sort_keys=True), r["report"]["workload"],
             r["report"]["trace"]) for r in base + new}
    if len(keys) != 1:
        raise Incomparable(f"runs differ in fingerprint, workload or trace mode: {sorted(keys)}")
    out = {}
    for name in base[0]["result"]["metrics"]:
        b = statistics.median(r["result"]["metrics"][name]["value"] for r in base)
        n = statistics.median(r["result"]["metrics"][name]["value"] for r in new)
        out[name] = {"base": b, "new": n, "ratio": n / b if b else None,
                     "unit": base[0]["result"]["metrics"][name]["unit"]}
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base", nargs="+")
    p.add_argument("--against", nargs="+", required=True)
    args = p.parse_args(argv)
    try:
        table = compare(load(args.base), load(args.against))
    except Incomparable as e:
        print(f"refused: {e}", file=sys.stderr)
        return 2
    for name, row in table.items():
        print(json.dumps({"metric": name, **row}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

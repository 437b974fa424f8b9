"""Self-test of the benchmark's result line; needs no Spark.

    python3 perfbench/selftest.py

Checks that the metric names and units ``run.py`` emits are exactly those
``BENCHMARK.json`` declares, and that the last output line parses and stays
under 2,000 characters (it is read from an output tail of that size), even
with every value at its widest.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for key, units in (("end_to_end", run.E2E_UNITS), ("per_layer", run.LAYER_UNITS)):
        declared = {m["name"]: m["unit"] for m in bench[key]}
        if declared != units:
            print(f"selftest: {key} in BENCHMARK.json differs from run.py", file=sys.stderr)
            return 1
        # widest values: 6 significant digits, negative, tiny exponent
        wide = {k: -1.23457e-05 if i % 2 else -123456789012 for i, k in enumerate(units)}
        line = run.result_line(True, 10**6, 0, wide, units)
        parsed = json.loads(line)
        if set(parsed) != {"correct", "attempted", "failed", "metrics"}:
            print(f"selftest: bad keys {sorted(parsed)}", file=sys.stderr)
            return 1
        print(f"{key}: {len(units)} metrics, widest line {len(line)} of {run.MAX_LINE} characters")
    try:
        run.result_line(True, 1, 0, {"x" * 3000: 1.0}, {"x" * 3000: "s"})
    except ValueError:
        pass
    else:
        print("selftest: an over-long line was not refused", file=sys.stderr)
        return 1
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())

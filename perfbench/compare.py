"""Compare benchmark records of two versions of the program.

    python3 perfbench/compare.py BASE.json [BASE.json ...] -- NEW.json [NEW.json ...]

Each file is a record that run.py kept under perfbench/.work/records/.
The comparison refuses to pair records unless all of them were taken on
the same host with the same nproc and Spark slot count, for the same
workload and trace mode; records without that stamp (the earlier
BENCH_r*.json files, taken at local[32] on other hosts) are refused too.
Prints, per metric, each side's median and quartiles and the change of
the medians.
"""

from __future__ import annotations

import json
import statistics
import sys

MUST_MATCH = ("host", "nproc", "slots", "workload", "trace")


def load(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        rec = json.load(f)
    stamp = rec.get("stamp") if isinstance(rec, dict) else None
    if not stamp or any(k not in stamp for k in MUST_MATCH):
        raise SystemExit(f"refused: {path} has no benchmark stamp ({', '.join(MUST_MATCH)})")
    return rec


def metrics(rec: dict) -> dict:
    return rec["per_layer"] if rec["stamp"]["trace"] else rec["end_to_end"]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base = [load(p) for p in argv[:cut]]
    new = [load(p) for p in argv[cut + 1 :]]
    if not base or not new:
        print("need at least one record on each side", file=sys.stderr)
        return 2
    ref = base[0]["stamp"]
    for rec in base + new:
        diff = {k: (ref[k], rec["stamp"][k]) for k in MUST_MATCH if rec["stamp"][k] != ref[k]}
        if diff:
            print(f"refused: records differ in {diff}", file=sys.stderr)
            return 2
    print(f"{ref['workload']} on {ref['host']} (nproc {ref['nproc']}, slots {ref['slots']}): "
          f"{len(base)} base vs {len(new)} new records")
    for key in metrics(base[0]):
        b = quartiles([metrics(r)[key] for r in base])
        n = quartiles([metrics(r)[key] for r in new])
        change = (n[1] - b[1]) / b[1] if b[1] else float("nan")
        print(f"{key:40s} base {b[1]:12.5g} [{b[0]:.5g}, {b[2]:.5g}]  "
              f"new {n[1]:12.5g} [{n[0]:.5g}, {n[2]:.5g}]  {change:+.2%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Compare the end-to-end metrics of two sets of benchmark records.

    python3 benchmark/compare.py BEFORE.out... -- AFTER.out...

Each file is the standard output of one ``run.py`` run (the host record
line, then the result line).  Prints, per workload and metric, each
side's median and quartiles and the relative change of the medians.
Refuses to compare when the records were taken with different core
counts or on different hosts' memory sizes.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> tuple[dict, dict]:
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.startswith("{")]
    return json.loads(lines[-2]), json.loads(lines[-1])


def summarize(paths: list[str]) -> tuple[dict, dict]:
    hosts, values = set(), {}
    for p in paths:
        record, result = load(p)
        h = record["host"]
        hosts.add((h["cpus"], h["nproc"], h["mem_total_mb"]))
        for name, m in result["metrics"].items():
            values.setdefault((record["workload"], name), []).append(m["value"])
    if len(hosts) != 1:
        raise SystemExit(f"records mix hosts or core counts: {sorted(hosts)}")
    return hosts.pop(), values


def main(argv: list[str]) -> int:
    if "--" not in argv:
        raise SystemExit(__doc__)
    cut = argv.index("--")
    host_a, a = summarize(argv[:cut])
    host_b, b = summarize(argv[cut + 1:])
    if host_a != host_b:
        raise SystemExit(f"refusing to compare {host_a} with {host_b}: "
                         "cpus, nproc or memory differ")
    for key in sorted(set(a) & set(b)):
        ma, mb = statistics.median(a[key]), statistics.median(b[key])
        qa = statistics.quantiles(a[key], n=4) if len(a[key]) > 1 else [ma] * 3
        qb = statistics.quantiles(b[key], n=4) if len(b[key]) > 1 else [mb] * 3
        change = (mb - ma) / ma if ma else float("nan")
        print(f"{key[0]:14s} {key[1]:14s} {ma:10.4g} [{qa[0]:.4g}, {qa[2]:.4g}]"
              f" -> {mb:10.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  {change:+.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Compare two saved benchmark results.

    python3 perfbench/compare.py BASE.out NEW.out

Each file is the standard output of one ``run.py`` run (provenance
line, metric lines, result line).  A legacy record such as
BENCH_r05.json (one JSON object with a ``cpus`` field) is read too,
for its core count and its numbers.  Prints NEW/BASE for every metric
both carry, and a warning when the two ran on different core counts:
timings from hosts with different core counts are not comparable.
When BASE is an untraced run and NEW a traced run of the same
workload, it also prints the tracing overhead, NEW's traced median
operation ÷ BASE's median operation − 1.
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> tuple[dict, dict[str, float]]:
    """(provenance, {metric: value}) of one saved result."""
    with open(path) as f:
        text = f.read()
    lines = text.strip().splitlines()
    if lines and lines[0].startswith("provenance "):
        prov = json.loads(lines[0][len("provenance "):])
        values = {}
        for line in lines[1:-1]:
            if line.startswith("metric "):
                name, value = line.split()[1], line.split()[-2]
                values[name] = float(value)
        for name, m in json.loads(lines[-1])["metrics"].items():
            values[name] = float(m["value"])
        return prov, values
    record = json.loads(text)
    values = {k: float(v) for k, v in record.get("queries", {}).items()}
    values.update({k: float(v) for k, v in record.items()
                   if isinstance(v, (int, float)) and not isinstance(v, bool)})
    return {"nproc": record.get("cpus")}, values


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    (base_p, base), (new_p, new) = load(argv[0]), load(argv[1])
    if base_p["nproc"] != new_p["nproc"]:
        print(f"WARNING: core counts differ ({base_p['nproc']} vs {new_p['nproc']}); "
              "these timings are not comparable")
    if (base_p.get("trace") == 0 and new_p.get("trace") == 1
            and base_p.get("workload") == new_p.get("workload")):
        print(f"tracing overhead {new['trace.op_p50_ms'] / base['op_p50_ms'] - 1:+.3f}")
    for name in sorted(set(base) & set(new)):
        ratio = new[name] / base[name] if base[name] else float("nan")
        print(f"{name:40s} {base[name]:14.6g} {new[name]:14.6g} {ratio:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Compare two saved outputs of perfbench/run.py.

    python3 perfbench/compare.py BASE.out NEW.out

Each file is a run's full stdout. Prints, per metric, both values and
NEW/BASE. Refuses (exit 2) runs of different workloads or taken at a
different number of cpus. When BASE is untraced and NEW is the traced
run of the same workload and seed, also prints the tracing overhead:
traced op p50 over untraced op p50.
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> tuple[dict, dict]:
    meta, result = None, None
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith("# meta "):
                meta = json.loads(line[len("# meta "):])
            elif line.startswith("{"):
                result = json.loads(line)
    if meta is None or result is None:
        raise ValueError(f"{path}: not a perfbench/run.py output")
    return meta, result


def compare(base: tuple[dict, dict], new: tuple[dict, dict]) -> list[str]:
    (mb, rb), (mn, rn) = base, new
    for key in ("workload", "cpus"):
        if mb[key] != mn[key]:
            raise ValueError(f"refusing to compare runs with different "
                             f"{key}: {mb[key]} vs {mn[key]}")
    out = []
    for name, v in rn["metrics"].items():
        if name in rb["metrics"]:
            b = rb["metrics"][name]["value"]
            ratio = f"{v['value'] / b:.3f}" if b else "-"
            out.append(f"{name:44s} {b:>14.3f} {v['value']:>14.3f} "
                       f"{ratio:>7s} {v['unit']}")
    if not mb["trace"] and mn["trace"] and mb["seed"] == mn["seed"]:
        b = rb["metrics"]["op_p50_ms"]["value"]
        t = rn["metrics"]["trace.op_p50_ms"]["value"]
        out.append(f"tracing overhead: {(t / b - 1) * 100:+.1f}% "
                   f"(op p50 {b:.1f} ms untraced, {t:.1f} ms traced)")
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    try:
        lines = compare(load(argv[0]), load(argv[1]))
    except ValueError as e:
        print(f"compare: {e}", file=sys.stderr)
        return 2
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Compare the per-layer metrics of two sets of perfbench records.

    python3 tools/layers.py OLD.jsonl NEW.jsonl

Reads two record files as `perfbench/run.py` appends them
(`.bench_build/results/records.jsonl`, one JSON record per line) and,
per workload, prints the median of every layer's `*.jobs`, `*.s` and
`*.core_util` over the traced records (`--trace 1`: only those carry
layer metrics), old against new, with the change. Untraced records are
ignored; `perfbench/run.py --compare` compares those end to end.

A metric both sides report as 0 (a layer the workload never calls) is
left out. Medians of a handful of traced runs are a picture of where
the time goes, not a performance claim.
"""
import json
import statistics
import sys

SUFFIXES = (".jobs", ".s", ".core_util")


def traced(path):
    """Traced records of `path`, grouped by workload."""
    by_workload = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                if r.get("trace") == 1:
                    by_workload.setdefault(r["workload"], []).append(r["layers"])
    return by_workload


def medians(records):
    names = {k for layers in records for k in layers if k.endswith(SUFFIXES)}
    return {k: statistics.median(layers.get(k, 0.0) for layers in records) for k in names}


def compare(old_path, new_path):
    old, new = traced(old_path), traced(new_path)
    for w in sorted(set(old) | set(new)):
        if w not in old or w not in new:
            print(f"{w}: no traced records in both files")
            continue
        a, b = medians(old[w]), medians(new[w])
        print(f"{w}  (traced runs {len(old[w])} vs {len(new[w])})")
        for k in sorted(set(a) | set(b)):
            x, y = a.get(k, 0.0), b.get(k, 0.0)
            if x == 0 and y == 0:
                continue
            change = f"{(y - x) / x:+7.1%}" if x else "    new"
            print(f"  {k:<28} {x:>10.3f} -> {y:>10.3f} {change}")


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    compare(sys.argv[1], sys.argv[2])


if __name__ == "__main__":
    main()
